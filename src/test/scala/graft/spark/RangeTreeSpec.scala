package graft.spark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RangeTreeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def treeMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("zero-noise tree releases exact node counts over the generated universe") {
    // units 1..4, values in [0, 8) with bins = 8 (width 1): bins
    // {0: 2 rows, 3: 1, 7: 2}; bin 5 empty but its nodes still release
    val df = Seq((1L, 0.2), (2L, 0.9), (1L, 3.5), (3L, 7.1), (4L, 7.9))
      .toDF("uid", "v")
    val tree = RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      lo = 0.0, hi = 8.0, bins = 8, epsilon = 1.0, maxPerUnit = 10L,
      noise = graft.core.NoiseSource.Zero)
    val m = treeMap(tree)
    assert(m.size == 15) // 2*8 - 1 nodes, ALL released
    assert(m((0, 0L)) == 2.0 && m((0, 3L)) == 1.0 && m((0, 7L)) == 2.0)
    assert(m((0, 5L)) == 0.0)
    assert(m((1, 0L)) == 2.0 && m((1, 1L)) == 1.0 && m((1, 3L)) == 2.0)
    assert(m((2, 0L)) == 3.0 && m((2, 1L)) == 2.0)
    assert(m((3, 0L)) == 5.0) // root = n
    // out-of-range values CLAMP to the edge bins (not dropped)
    val clamped = RangeTree.dpRangeCountTree(
      Seq((1L, -5.0), (2L, 99.0)).toDF("uid", "v"), "uid", col("v"), Nil,
      0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero)
    val cm = treeMap(clamped)
    assert(cm((0, 0L)) == 1.0 && cm((0, 7L)) == 1.0)
    // NULL value fails loud
    val e = intercept[Exception](RangeTree.dpRangeCountTree(
      Seq((1L, null.asInstanceOf[java.lang.Double])).toDF("uid", "v"),
      "uid", col("v"), Nil, 0.0, 8.0, 8, 1.0, 10L,
      graft.core.NoiseSource.Zero).collect())
    assert(SparkTestSession.chainMsg(e).contains("NULL value"))
  }

  test("per-unit cap keeps the deterministic lowest-(bin, value) rows") {
    // unit 1 has 4 rows; cap 2 keeps bins {0, 1} (lowest bin, then value)
    val df = Seq((1L, 7.5), (1L, 0.5), (1L, 1.5), (1L, 6.5), (2L, 2.5))
      .toDF("uid", "v")
    val m = treeMap(RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      0.0, 8.0, 8, 1.0, maxPerUnit = 2L, graft.core.NoiseSource.Zero))
    assert(m((3, 0L)) == 3.0) // 2 kept for unit 1 + 1 for unit 2
    assert(m((0, 0L)) == 1.0 && m((0, 1L)) == 1.0 && m((0, 2L)) == 1.0)
    assert(m((0, 6L)) == 0.0 && m((0, 7L)) == 0.0) // unit 1's high rows dropped
  }

  test("draw-once structure: constant-1 source adds exactly 1 per node") {
    object ConstOne extends graft.core.NoiseSource {
      def laplace(b: Double): Double = 1.0
      def gaussian(sigma: Double): Double = 1.0
      def uniform(): Double = 0.5
    }
    val df = Seq((1L, 0.5), (2L, 3.5)).toDF("uid", "v")
    def tree(src: graft.core.NoiseSource) =
      RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
        0.0, 8.0, 8, 1.0, 10L, src)
    val exact = treeMap(tree(graft.core.NoiseSource.Zero))
    val one = treeMap(tree(ConstOne))
    assert(one.keySet == exact.keySet)
    one.foreach { case (k, v) => assert(v == exact(k) + 1.0, s"node $k") }
    // and a range query then reads exact + |cover| (one draw per node)
    val q = RangeTree.rangeQueries(tree(ConstOne), Nil, Seq((1L, 6L)), 8)
      .collect().head.getDouble(3)
    val cover = RangeTree.decompose(1L, 6L)
    val exactQ = RangeTree.rangeQueries(tree(graft.core.NoiseSource.Zero),
      Nil, Seq((1L, 6L)), 8).collect().head.getDouble(3)
    assert(q == exactQ + cover.size)
  }

  test("value-domain range queries map to covering bins, round OUT off-edge") {
    val df = Seq((1L, 0.5), (2L, 1.5), (3L, 2.5), (4L, 7.5)).toDF("uid", "v")
    val tree = RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero)
    def q(vLo: Double, vHi: Double) = {
      val r = RangeTree.rangeQueriesByValue(tree, Nil, Seq((vLo, vHi)),
        0.0, 8.0, 8).collect().head
      ((r.getLong(1), r.getLong(2)), r.getDouble(3))
    }
    // edge-aligned: exact
    assert(q(0.0, 2.0) == (((0L, 1L), 2.0)))
    assert(q(2.0, 8.0) == (((2L, 7L), 2.0)))
    // off-edge bounds round OUT to the covering bins
    assert(q(0.5, 1.5) == (((0L, 1L), 2.0))) // covers bins 0-1 entirely
    assert(q(2.5, 2.6) == (((2L, 2L), 1.0)))
    // outside the domain fails loud
    val e = intercept[IllegalArgumentException](
      RangeTree.rangeQueriesByValue(tree, Nil, Seq((0.0, 9.0)), 0.0, 8.0, 8))
    assert(e.getMessage.contains("outside the domain"), e.getMessage)
  }

  test("out-of-domain ranges fail loud (a silent partial count otherwise)") {
    val df = Seq((1L, 0.5)).toDF("uid", "v")
    val tree = RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero)
    val e = intercept[IllegalArgumentException](
      RangeTree.rangeQueries(tree, Nil, Seq((0L, 8L)), 8))
    assert(e.getMessage.contains("outside the bin domain"), e.getMessage)
  }

  test("dyadic decomposition tiles ranges exactly (property)") {
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 200) {
      val lo = rnd.nextInt(64).toLong
      val hi = lo + rnd.nextInt(64 - lo.toInt).toLong
      val cover = RangeTree.decompose(lo, hi)
      val tiles = cover.flatMap { case (l, i) =>
        (i << l) until ((i + 1L) << l)
      }
      assert(tiles.sorted == (lo to hi).toSeq, s"[$lo,$hi] -> $cover")
      assert(cover.size <= 2 * 7, s"[$lo,$hi] cover too large: $cover")
    }
  }

  test("quantiles from the tree: zero noise gives the exact empirical bins") {
    // 10 rows: bins 0 x4, 2 x3, 5 x2, 7 x1 => cdf 0.4 / 0.7 / 0.9 / 1.0
    val rows = Seq.fill(4)(0.5) ++ Seq.fill(3)(2.5) ++ Seq.fill(2)(5.5) ++ Seq(7.5)
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("uid", "v")
    val tree = RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero)
    val qs = RangeTree.quantilesFromTree(tree, Nil, 0.0, 8.0, 8,
      Seq(0.25, 0.4, 0.5, 0.9, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(qs(0.25) == 0L && qs(0.4) == 0L) // prefix(0) = 4 >= 0.4*10
    assert(qs(0.5) == 2L && qs(0.9) == 5L && qs(1.0) == 7L)
  }

  test("Hay consistency: identity on exact trees, children sum to parents, error never worse") {
    val df = (0 until 40).map(i => (i.toLong, (i % 8) + 0.5)).toDF("uid", "v")
    val exact = RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero)
    val exactM = treeMap(exact)
    // identity on an already-consistent tree
    val idM = treeMap(RangeTree.enforceConsistency(exact, Nil, 8))
    exactM.foreach { case (k, v) => assert(math.abs(idM(k) - v) < 1e-9, k) }
    // seeded random noise: after the sweep the tree is internally
    // consistent and total squared error does not increase
    val rnd = new scala.util.Random(5)
    object Seeded extends graft.core.NoiseSource {
      def laplace(b: Double): Double = rnd.nextGaussian() * 2.0
      def gaussian(sigma: Double): Double = rnd.nextGaussian() * 2.0
      def uniform(): Double = rnd.nextDouble()
    }
    val noisy = RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      0.0, 8.0, 8, 1.0, 10L, Seeded).localCheckpoint(true)
    val noisyM = treeMap(noisy)
    val consM = treeMap(RangeTree.enforceConsistency(noisy, Nil, 8))
    for (l <- 1 to 3; i <- 0L until (8L >> l)) {
      assert(math.abs(consM((l, i)) -
        consM((l - 1, 2 * i)) - consM((l - 1, 2 * i + 1))) < 1e-9,
        s"inconsistent at ($l, $i)")
    }
    def sqErr(m: Map[(Int, Long), Double]) =
      m.map { case (k, v) => math.pow(v - exactM(k), 2) }.sum
    assert(sqErr(consM) <= sqErr(noisyM) + 1e-9,
      s"consistency worsened error: ${sqErr(consM)} > ${sqErr(noisyM)}")
  }

  test("sum tree: exact clamped node sums, shared range-query path, cap order") {
    // weights clamp to [0, 10]: unit 3's 50.0 enters as 10.0
    val df = Seq((1L, 0.5, 4.0), (2L, 0.7, 3.0), (2L, 3.5, 2.0),
      (3L, 7.5, 50.0)).toDF("uid", "v", "w")
    val tree = RangeTree.dpRangeSumTree(df, "uid", col("v"), col("w"), Nil,
      0.0, 8.0, 8, 1.0, maxPerUnit = 10L, minW = 0.0, maxW = 10.0,
      graft.core.NoiseSource.Zero)
    val m = treeMap(tree)
    assert(m((0, 0L)) == 7.0 && m((0, 3L)) == 2.0 && m((0, 7L)) == 10.0)
    assert(m((0, 5L)) == 0.0 && m.size == 15)
    assert(m((3, 0L)) == 19.0)
    // rangeQueries reuses the same released schema
    val q = RangeTree.rangeQueries(tree, Nil, Seq((0L, 3L), (4L, 7L)), 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(q == Map(0L -> 9.0, 1L -> 10.0))
    // the deterministic cap keeps the lowest-(bin, weight) rows
    val many = Seq((1L, 0.5, 9.0), (1L, 0.5, 1.0), (1L, 7.5, 5.0))
      .toDF("uid", "v", "w")
    val capped = treeMap(RangeTree.dpRangeSumTree(many, "uid", col("v"),
      col("w"), Nil, 0.0, 8.0, 8, 1.0, maxPerUnit = 2L, 0.0, 10.0,
      graft.core.NoiseSource.Zero))
    assert(capped((0, 0L)) == 10.0 && capped((0, 7L)) == 0.0)
    // NULL weight fails loud
    val e = intercept[Exception](RangeTree.dpRangeSumTree(
      Seq((1L, 0.5, null.asInstanceOf[java.lang.Double])).toDF("uid", "v", "w"),
      "uid", col("v"), col("w"), Nil, 0.0, 8.0, 8, 1.0, 10L, 0.0, 10.0,
      graft.core.NoiseSource.Zero).collect())
    assert(SparkTestSession.chainMsg(e).contains("NULL weight"))
  }

  test("ingest fold: any batch split releases the one-shot tree; store stays tree-shaped") {
    val df = (0 until 30).map(i => (i.toLong, (i % 8) + 0.5, if (i % 2 == 0) "a" else "b"))
      .toDF("uid", "v", "k")
    val oneShot = treeMap2(RangeTree.dpRangeCountTree(df, "uid", col("v"),
      Seq("k"), 0.0, 8.0, 8, 1.0, 100L, graft.core.NoiseSource.Zero))
    for (splits <- Seq(Seq(10, 20), Seq(1, 29), Seq(15, 15))) {
      val bs = Seq(df.filter(col("uid") < splits.head),
        df.filter(col("uid") >= splits.head && col("uid") < splits.head + splits(1)),
        df.filter(col("uid") >= splits.head + splits(1)))
      var store: Option[org.apache.spark.sql.DataFrame] = None
      bs.foreach { b =>
        store = Some(RangeTree.rangeTreeIngestStep(b, store, "uid", col("v"),
          Seq("k"), 0.0, 8.0, 8, 100L).localCheckpoint(true))
        // the store never exceeds the tree shape: (2*bins - 1) x keys
        assert(store.get.count() <= 15 * 2)
      }
      val folded = treeMap2(RangeTree.rangeTreeRelease(store.get, Seq("k"),
        8, 1.0, 100L, graft.core.NoiseSource.Zero))
      assert(folded == oneShot, s"split $splits diverged")
    }
  }

  private def treeMap2(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getString(2)) -> r.getDouble(3)).toMap

  test("ingest fold == one-shot through a REAL foreachBatch drive") {
    val rows = (0 until 24).map(i =>
      (i.toLong, (i % 8) + 0.5, if (i % 2 == 0) "a" else "b"))
    val df = rows.toDF("uid", "v", "k")
    val oneShot = treeMap2(RangeTree.dpRangeCountTree(df, "uid", col("v"),
      Seq("k"), 0.0, 8.0, 8, 1.0, 100L, graft.core.NoiseSource.Zero))
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Double, String)]
    var store: Option[org.apache.spark.sql.DataFrame] = None
    val q = input.toDF().toDF("uid", "v", "k").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val stable = b.localCheckpoint(true)
        store = Some(RangeTree.rangeTreeIngestStep(stable, store, "uid",
          col("v"), Seq("k"), 0.0, 8.0, 8, 100L).localCheckpoint(true))
        ()
      }
      .start()
    rows.grouped(8).foreach { g =>
      input.addData(g)
      q.processAllAvailable()
    }
    q.stop()
    val released = treeMap2(RangeTree.rangeTreeRelease(store.get, Seq("k"),
      8, 1.0, 100L, graft.core.NoiseSource.Zero))
    assert(released == oneShot)
  }

  test("CDF release: exact prefixes, PAVA monotone projection, identity when clean") {
    val rows = Seq.fill(4)(0.5) ++ Seq.fill(3)(2.5) ++ Seq(7.5)
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("uid", "v")
    val tree = RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero)
    def cdfMap(mono: Boolean) =
      RangeTree.cdfFromTree(tree, Nil, 0.0, 8.0, 8, monotone = mono)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val raw = cdfMap(false)
    assert(raw(0L) == ((1.0, 4.0)) && raw(2L) == ((3.0, 7.0)) &&
      raw(7L) == ((8.0, 8.0)))
    // zero noise: the projection is the identity
    assert(cdfMap(true) == raw)
    // PAVA itself, through a hand-built 4-bin tree whose prefixes
    // violate monotonicity (noise-source draws reach nodes in an
    // unpredictable order, so the violating tree is constructed):
    // leaves [1, 2, -3, 4] => prefixes [1, 3, 0, 4]; internal nodes set
    // consistent so the decomposition reads exactly those prefixes
    val handTree = Seq(
      (0, 0L, 1.0), (0, 1L, 2.0), (0, 2L, -3.0), (0, 3L, 4.0),
      (1, 0L, 3.0), (1, 1L, 1.0), (2, 0L, 4.0)
    ).toDF("__lvl", "__idx", "dp_count")
    val mono = RangeTree.cdfFromTree(handTree, Nil, 0.0, 4.0, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // PAVA of [1, 3, 0, 4]: blocks {1}, {3,0}->1.5 each, {4}
    assert(mono == Map(0L -> 1.0, 1L -> 1.5, 2L -> 1.5, 3L -> 4.0), mono.toString)
    // monotone by construction
    val seq = (0L to 3L).map(mono)
    assert(seq == seq.sorted)
  }

  test("publicKeys: data-independent release set, drop-before-bounding") {
    val df = Seq((1L, 0.5, "a"), (2L, 7.5, "a"), (3L, 3.5, "b"), (4L, 1.5, "c"))
      .toDF("uid", "v", "k")
    val pub = Seq("a", "phantom").toDF("k")
    val tree = RangeTree.dpRangeCountTree(df, "uid", col("v"), Seq("k"),
      0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero, Some(pub))
    val rows = tree.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)) -> r.getDouble(3))
      .toMap
    // exactly the public keys release — "b"/"c" (observed, non-public)
    // do NOT; "phantom" (public, empty) releases a full tree of zeros
    assert(rows.keySet.map(_._3) == Set("a", "phantom"))
    assert(rows((3, 0L, "a")) == 2.0)
    assert(rows((3, 0L, "phantom")) == 0.0)
    assert(rows.count(_._1._3 == "phantom") == 15)
    // the sum tree honors the same contract
    val sTree = RangeTree.dpRangeSumTree(df, "uid", col("v"), lit(2.0),
      Seq("k"), 0.0, 8.0, 8, 1.0, 10L, 0.0, 10.0,
      graft.core.NoiseSource.Zero, Some(pub))
    val sRoots = sTree.filter(col("__lvl") === 3)
      .collect().map(r => r.getString(2) -> r.getDouble(3)).toMap
    assert(sRoots == Map("a" -> 4.0, "phantom" -> 0.0))
  }

  test("draw-once: driver draws exactly once per node, shared across consumers and actions") {
    // counting source: every draw is DISTINCT (1000, 2000, ...), so any
    // re-draw — a second action on the release, or the quantile readout's
    // two subplan references to the tree (the r13 judge-found hole) —
    // would surface as diverging values and a growing counter
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    object Counting extends graft.core.NoiseSource {
      def laplace(b: Double): Double = counter.incrementAndGet() * 1000.0
      def gaussian(sigma: Double): Double = counter.incrementAndGet() * 1000.0
      def uniform(): Double = 0.5
    }
    val df = Seq((1L, 0.5), (2L, 3.5), (3L, 6.5)).toDF("uid", "v")
    val tree = RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      0.0, 8.0, 8, 1.0, 10L, Counting)
    // draws happen at release CONSTRUCTION, driver-side, once per node
    assert(counter.get == 15, s"draws=${counter.get}")
    val first = treeMap(tree)
    val second = treeMap(tree) // second ACTION: same draws, none new
    assert(second == first)
    assert(counter.get == 15, "a second action re-drew node noise")
    // the root's released value read through three DIFFERENT consumers —
    // the tree scan, a whole-domain range query, and the CDF's last
    // prefix — is the SAME single draw (r13 gave each a fresh sample)
    val root = first((3, 0L))
    val rq = RangeTree.rangeQueries(tree, Nil, Seq((0L, 7L)), 8)
      .collect().head.getDouble(3)
    assert(rq == root, s"range query re-drew the root: $rq != $root")
    val cdfLast = RangeTree.cdfFromTree(tree, Nil, 0.0, 8.0, 8,
      monotone = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap.apply(7L)
    assert(cdfLast == root, s"cdf re-drew the root: $cdfLast != $root")
    // the quantile readout references the tree twice in ONE plan (root
    // total + prefix side) — deterministic now, and it draws nothing
    val q1 = RangeTree.quantilesFromTree(tree, Nil, 0.0, 8.0, 8, Seq(0.5))
      .collect().toSeq
    val q2 = RangeTree.quantilesFromTree(tree, Nil, 0.0, 8.0, 8, Seq(0.5))
      .collect().toSeq
    assert(q1 == q2)
    assert(counter.get == 15, "post-processing consumers drew new noise")
    // keyed: exactly nodes x keys draws
    counter.set(0)
    val keyed = Seq((1L, 0.5, "a"), (2L, 3.5, "b")).toDF("uid", "v", "k")
    RangeTree.dpRangeCountTree(keyed, "uid", col("v"), Seq("k"),
      0.0, 8.0, 8, 1.0, 10L, Counting)
    assert(counter.get == 30, s"keyed draws=${counter.get}")
  }

  test("Gaussian release: per-node sigma calibrated at L2 = unitLinf * sqrt(levels+1)") {
    // echo source: gaussian(sigma) = sigma; laplace(b) = -b so a
    // wrong-kind dispatch surfaces as a negative offset
    object EchoScale extends graft.core.NoiseSource {
      def laplace(b: Double): Double = -b
      def gaussian(sigma: Double): Double = sigma
      def uniform(): Double = 0.5
    }
    val df = Seq((1L, 0.5), (2L, 3.5)).toDF("uid", "v")
    val eps = 1.0; val dlt = 1e-6; val cap = 3L
    val exact = treeMap(RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      0.0, 8.0, 8, eps, cap, graft.core.NoiseSource.Zero))
    val gauss = treeMap(RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      0.0, 8.0, 8, eps, cap, EchoScale, None,
      graft.core.NoiseKind.Gaussian, dlt))
    val sigma = graft.core.DpNoise.gaussianSigma(eps, dlt,
      cap * math.sqrt(4.0)) // levels+1 = 4 for bins=8
    gauss.foreach { case (k, v) =>
      assert(math.abs(v - (exact(k) + sigma)) < 1e-12, s"node $k") }
    // the sum tree's L2 picks up the weight bound
    val sdf = Seq((1L, 0.5, 2.0), (2L, 3.5, 7.0)).toDF("uid", "v", "w")
    val sExact = treeMap(RangeTree.dpRangeSumTree(sdf, "uid", col("v"),
      col("w"), Nil, 0.0, 8.0, 8, eps, cap, 0.0, 5.0,
      graft.core.NoiseSource.Zero))
    val sGauss = treeMap(RangeTree.dpRangeSumTree(sdf, "uid", col("v"),
      col("w"), Nil, 0.0, 8.0, 8, eps, cap, 0.0, 5.0, EchoScale, None,
      graft.core.NoiseKind.Gaussian, dlt))
    val sSigma = graft.core.DpNoise.gaussianSigma(eps, dlt,
      cap * 5.0 * math.sqrt(4.0))
    sGauss.foreach { case (k, v) =>
      assert(math.abs(v - (sExact(k) + sSigma)) < 1e-12, s"node $k") }
    // zero noise under Gaussian: still the exact tree (the oracle anchor)
    val gZero = treeMap(RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      0.0, 8.0, 8, eps, cap, graft.core.NoiseSource.Zero, None,
      graft.core.NoiseKind.Gaussian, dlt))
    assert(gZero == exact)
    // parameter validation: Gaussian needs delta in (0, 1); Laplace
    // refuses a stray delta (it would silently buy nothing)
    val e1 = intercept[IllegalArgumentException](
      RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil, 0.0, 8.0, 8,
        eps, cap, EchoScale, None, graft.core.NoiseKind.Gaussian, 0.0))
    assert(e1.getMessage.contains("delta in (0, 1)"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil, 0.0, 8.0, 8,
        eps, cap, EchoScale, None, graft.core.NoiseKind.Laplace, 0.5))
    assert(e2.getMessage.contains("Gaussian parameter"), e2.getMessage)
  }

  test("guards: over-cap key cardinality and over-cap collects fail loud") {
    // bins = 4096 -> 8191 nodes -> at most 2e6/8191 = 244 keys may draw
    // driver-side; 246 keys must fail loud BEFORE building literal frames
    val wide = (0 until 246).map(i => (i.toLong, 0.5, f"k$i%03d"))
      .toDF("uid", "v", "k")
    val e = intercept[IllegalArgumentException](
      RangeTree.dpRangeCountTree(wide, "uid", col("v"), Seq("k"),
        0.0, 8.0, 4096, 1.0, 10L, graft.core.NoiseSource.Zero))
    assert(e.getMessage.contains("distinct keys"), e.getMessage)
    assert(e.getMessage.contains("shard the release"), e.getMessage)
    // the bounded-collect guard (enforceConsistency / cdfFromTree class):
    // over-cap frames reject with the shaped message instead of OOMing
    val probe = spark.range(10).toDF("x")
    val e2 = intercept[IllegalArgumentException](
      RangeTree.boundedCollect(probe, "probeConsumer", cap = 5))
    assert(e2.getMessage.contains("probeConsumer: over 5"), e2.getMessage)
    assert(RangeTree.boundedCollect(probe, "probeConsumer", cap = 20)
      .length == 10)
  }

  test("quantilesFromTree fails loud on a key missing its root row") {
    // bins = 2: full tree for "a"; "b" has leaves but NO root — an inner
    // join would silently drop "b" from the readout (r14 advice)
    val tree = Seq(
      (0, 0L, "a", 1.0), (0, 1L, "a", 2.0), (1, 0L, "a", 3.0),
      (0, 0L, "b", 4.0), (0, 1L, "b", 5.0)
    ).toDF("__lvl", "__idx", "k", "dp_count")
    val e = intercept[Exception](
      RangeTree.quantilesFromTree(tree, Seq("k"), 0.0, 2.0, 2, Seq(0.5))
        .collect())
    assert(SparkTestSession.chainMsg(e).contains("no root node"),
      SparkTestSession.chainMsg(e).take(300))
    // keyless: a tree whose root row was filtered away also fails loud
    val keyless = Seq((0, 0L, 1.0), (0, 1L, 2.0))
      .toDF("__lvl", "__idx", "dp_count")
    val e2 = intercept[Exception](
      RangeTree.quantilesFromTree(keyless, Nil, 0.0, 2.0, 2, Seq(0.5))
        .collect())
    assert(SparkTestSession.chainMsg(e2).contains("no root node"),
      SparkTestSession.chainMsg(e2).take(300))
  }

  test("duplicate node rows fail loud in every readout (corrupt-union guard, r17)") {
    // a released tree carries each node exactly once: a duplicate means
    // overlapping shards or a double-written union, and the readouts
    // must refuse rather than double-count (nodeMap's old defensive sum)
    // or silently drop (the sweep's old last-write-wins)
    val dup = Seq(
      (0, 0L, "a", 1.0), (0, 1L, "a", 2.0), (1, 0L, "a", 3.0),
      (0, 0L, "a", 1.0) // the duplicate
    ).toDF("__lvl", "__idx", "k", "dp_count")
    val e1 = intercept[Exception](
      RangeTree.quantilesFromTree(dup, Seq("k"), 0.0, 2.0, 2, Seq(0.5))
        .collect())
    assert(SparkTestSession.chainMsg(e1).contains("duplicate node"),
      SparkTestSession.chainMsg(e1).take(300))
    val e2 = intercept[Exception](
      RangeTree.cdfFromTree(dup, Seq("k"), 0.0, 2.0, 2).collect())
    assert(SparkTestSession.chainMsg(e2).contains("duplicate node"),
      SparkTestSession.chainMsg(e2).take(300))
    val e3 = intercept[Exception](
      RangeTree.enforceConsistency(dup, Seq("k"), 2).collect())
    assert(SparkTestSession.chainMsg(e3).contains("duplicate"),
      SparkTestSession.chainMsg(e3).take(300))
    // an EMPTY keyless tree reads as no release, not an all-zero CDF
    val empty = Seq.empty[(Int, Long, Double)]
      .toDF("__lvl", "__idx", "dp_count")
    val e4 = intercept[Exception](
      RangeTree.cdfFromTree(empty, Nil, 0.0, 2.0, 2).collect())
    assert(SparkTestSession.chainMsg(e4).contains("no root node"),
      SparkTestSession.chainMsg(e4).take(300))
  }

  test("paddedDomain keeps the requested width and pads to a power of two") {
    val d = RangeTree.paddedDomain(0.0, 1000.0, minBins = 48)
    assert(d.bins == 64)
    assert(d.width == 1000.0 / 48) // EXACT: *64/64 is lossless in IEEE
    assert(d.lo == 0.0 && d.hi == 64 * (1000.0 / 48))
    // already a power of two: identity
    assert(RangeTree.paddedDomain(2.0, 10.0, 32) ==
      RangeTreeDomain(2.0, 10.0, 32))
    // over-cap resolution / empty domain fail loud
    intercept[IllegalArgumentException](RangeTree.paddedDomain(0.0, 1.0, 4097))
    intercept[IllegalArgumentException](RangeTree.paddedDomain(1.0, 1.0, 8))
    // nonzero lo: padding bins append ABOVE hi and release as zeros
    val d2 = RangeTree.paddedDomain(10.0, 16.0, 3) // width 2 -> 4 bins, hi 18
    assert(d2.bins == 4 && d2.hi == 18.0 && d2.width == 2.0)
    val df = Seq((1L, 10.5), (2L, 15.5)).toDF("uid", "v")
    val m = treeMap(RangeTree.dpRangeCountTree(df, "uid", col("v"), Nil,
      d2.lo, d2.hi, d2.bins, 1.0, 10L, graft.core.NoiseSource.Zero))
    assert(m((0, 0L)) == 1.0 && m((0, 2L)) == 1.0)
    assert(m((0, 3L)) == 0.0) // the padding bin: released, empty
  }

  test("dpEstimatedDomain: zero noise reads the exact envelope quantile bins") {
    // 100 values at 100.0..199.0 inside a generous [0, 4096) envelope —
    // probe width exactly 1.0, so the quantile bin edges are exact:
    // qLo = 0.01 -> first prefix >= 1 -> bin 100; qHi = 0.99 -> first
    // prefix >= 99 -> bin 198, upper edge 199
    val df = (0 until 100).map(i => (i.toLong, 100.0 + i)).toDF("uid", "v")
    val dom = RangeTree.dpEstimatedDomain(df, "uid", col("v"),
      envLo = 0.0, envHi = 4096.0, minBins = 64, epsilon = 1.0,
      maxPerUnit = 10L, noise = graft.core.NoiseSource.Zero,
      qLo = 0.01, qHi = 0.99, expand = 0.0)
    assert(dom.lo == 100.0 && dom.hi == 199.0 && dom.bins == 64, dom.toString)
    // the estimate SPENDS budget (it is a DP release, not free metadata):
    // the probe tree draws its full node universe
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    object Counting extends graft.core.NoiseSource {
      def laplace(b: Double): Double = { counter.incrementAndGet(); 0.0 }
      def gaussian(sigma: Double): Double = { counter.incrementAndGet(); 0.0 }
      def uniform(): Double = 0.5
    }
    RangeTree.dpEstimatedDomain(df, "uid", col("v"), 0.0, 4096.0, 64,
      1.0, 10L, Counting)
    assert(counter.get == 2L * 4096 - 1, s"draws=${counter.get}")
    // expansion pads the span symmetrically before snapping
    val wide = RangeTree.dpEstimatedDomain(df, "uid", col("v"),
      0.0, 4096.0, 64, 1.0, 10L, graft.core.NoiseSource.Zero,
      qLo = 0.01, qHi = 0.99, expand = 0.5)
    assert(wide.lo == 100.0 - 49.5 && wide.bins == 64, wide.toString)
  }

  test("dpEstimatedDomain: noisy quantile inversion fails with a shaped error") {
    // craft draws so the qHi readout lands BELOW the qLo readout: the
    // release draws leaves 0..4095 then level 1.. then the root, so
    // draw #1 = leaf 0, draw #4097 = node (1,0), last draw = root.
    // leaf0 = node(1,0) = -0.5 and root noise = -(true total + 1) give
    // total = -1: the qHi threshold (-0.99) admits prefix(0) = -0.5
    // (bin 0) while the qLo threshold (-0.01) first passes at prefix(3)
    // = 0 (bin 3) — an inverted pair that must surface as a NAMED error,
    // not paddedDomain's generic "empty domain" (r14 advice)
    val df = (0 until 100).map(i => (i.toLong, 100.0 + i)).toDF("uid", "v")
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    object Inverting extends graft.core.NoiseSource {
      private def next(): Double = counter.incrementAndGet() match {
        case 1L    => -0.5   // leaf 0
        case 4097L => -0.5   // node (1, 0)
        case 8191L => -101.0 // root: 100 true rows -> total -1
        case _     => 0.0
      }
      def laplace(b: Double): Double = next()
      def gaussian(sigma: Double): Double = next()
      def uniform(): Double = 0.5
    }
    val e = intercept[IllegalArgumentException] {
      RangeTree.dpEstimatedDomain(df, "uid", col("v"), 0.0, 4096.0, 64,
        1.0, 10L, Inverting, qLo = 0.01, qHi = 0.99, expand = 0.0)
    }
    assert(e.getMessage.contains("noisy quantile inversion"), e.getMessage)
  }

  test("mass quantiles from the SUM tree: binding clamp, zero noise exact") {
    // clamped masses per bin: bin0 = 10 (CLAMPED from 50 — the clamp is
    // part of the released statistic), bin6 = 5, bin7 = 5; total 20
    val df = Seq((1L, 0.5, 50.0), (2L, 6.5, 5.0), (3L, 7.5, 5.0))
      .toDF("uid", "v", "w")
    val tree = RangeTree.dpRangeSumTree(df, "uid", col("v"), col("w"), Nil,
      0.0, 8.0, 8, 1.0, 10L, minW = 0.0, maxW = 10.0,
      graft.core.NoiseSource.Zero)
    val qs = RangeTree.quantilesFromTree(tree, Nil, 0.0, 8.0, 8,
      Seq(0.5, 0.75, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    // q=0.5: prefix(0)=10 >= 10 -> bin 0; q=0.75: first prefix >= 15 ->
    // bin 6; q=1.0 -> bin 7. UNclamped, the 50-mass would put q=0.75 at
    // bin 0 (50 >= 45) — the binding clamp moved the quantile
    assert(qs == Map(0.5 -> 0L, 0.75 -> 6L, 1.0 -> 7L), qs.toString)
  }

  test("treeCompositionEpsilon: tight many-release accounting, Gaussian wins at fleet scale") {
    import graft.core.NoiseKind
    // one Laplace release accounts as (about) its own epsilon at tiny delta
    val one = RangeTree.treeCompositionEpsilon(1, 0.5, 0.0,
      NoiseKind.Laplace, totalDelta = 1e-12, h = 1e-4)
    assert(math.abs(one - 0.5) < 0.01, s"one=$one")
    // n releases: strictly under the naive n * eps (the PLD win), above
    // a single release, monotone in n
    val n16 = RangeTree.treeCompositionEpsilon(16, 0.5, 0.0,
      NoiseKind.Laplace, 1e-6, h = 1e-4)
    val n64 = RangeTree.treeCompositionEpsilon(64, 0.5, 0.0,
      NoiseKind.Laplace, 1e-6, h = 1e-4)
    assert(n16 > 0.5 && n16 < 16 * 0.5, s"n16=$n16")
    assert(n64 > n16 && n64 < 64 * 0.5, s"n64=$n64")
    // Gaussian fleet: n trees compose as ONE Gaussian at sigma/sqrt(n) —
    // at 64 releases the total is well under the Laplace total for the
    // same per-release epsilon (the documented reason the option exists)
    val g64 = RangeTree.treeCompositionEpsilon(64, 0.5, 1e-8,
      NoiseKind.Gaussian, 1e-6, h = 1e-4)
    assert(g64 < n64, s"gaussian $g64 !< laplace $n64")
    // cross-check the Gaussian self-composition against the closed form:
    // composing n identical Gaussians IS one Gaussian at sigma/sqrt(n)
    val sigma = graft.core.DpNoise.gaussianSigma(0.5, 1e-8, 1.0)
    val direct = graft.core.DpNoise.gaussianEpsilon(
      sigma / math.sqrt(64.0), 1e-6)
    assert(math.abs(g64 - direct) / direct < 0.02,
      s"pld=$g64 closed-form=$direct")
    // parameter validation mirrors treeScale's
    intercept[IllegalArgumentException](RangeTree.treeCompositionEpsilon(
      4, 0.5, 0.5, NoiseKind.Laplace, 1e-6))
    intercept[IllegalArgumentException](RangeTree.treeCompositionEpsilon(
      4, 0.5, 0.0, NoiseKind.Gaussian, 1e-6))
  }

  test("explainRelease states calibration, privacy and error shape") {
    val lap = RangeTree.explainRelease(64, 1.0, 10L)
    assert(lap.contains("64 power-of-two bins, 7 levels (127 nodes)"))
    assert(lap.contains("Laplace"), lap)
    assert(lap.contains("-DP (pure)"), lap)
    // b = 10 * 1 * 7 / 1 = 70
    assert(lap.contains("70"), lap)
    assert(lap.contains("draw-once"))
    assert(lap.contains("<= 12 cover nodes"), lap)
    val gau = RangeTree.explainRelease(64, 1.0, 10L,
      graft.core.NoiseKind.Gaussian, 1e-6, unitLinf = 5.0, keyed = true)
    val sigma = graft.core.DpNoise.gaussianSigma(1.0, 1e-6, 50.0 * math.sqrt(7.0))
    assert(gau.contains("Gaussian") && gau.contains("per key"))
    assert(gau.contains(f"$sigma%g"), gau)
    assert(gau.contains("compose in parallel"))
  }

  test("private key discovery -> tree release: selection bites via preThreshold") {
    import graft.core._
    // key "rare" has ONE contributing unit; preThreshold = 2 drops it
    // deterministically BEFORE the DP selection (no noise dependence),
    // so the composed release — selectPartitions feeding publicKeys —
    // publishes trees ONLY for the surviving keys. This is the pattern
    // the key-existence caveat points to when no public contract exists.
    val df = Seq((1L, 0.5, "a"), (2L, 3.5, "a"), (3L, 7.5, "b"),
      (4L, 1.5, "b"), (9L, 2.5, "rare")).toDF("uid", "v", "k")
    val engine = new DPEngine(
      new NaiveBudgetAccountant(1e5, 0.99), NoiseSource.Zero)
    val selected = engine.selectPartitions(df,
      SelectPartitionsParams(maxPartitionsContributed = 1,
        preThreshold = Some(2)),
      DPColumns(col("uid"), Seq("k" -> col("k"))))
    engine.accountant.computeBudgets()
    val tree = RangeTree.dpRangeCountTree(df, "uid", col("v"), Seq("k"),
      0.0, 8.0, 8, 1.0, 10L, NoiseSource.Zero,
      publicKeys = Some(selected.dataframe))
    val keys = tree.select("k").distinct().collect().map(_.getString(0)).toSet
    assert(keys == Set("a", "b"), s"released keys: $keys")
    // the survivors' trees are complete and exact; "rare"'s data shaped
    // NOTHING (it dropped before bounding — the publicKeys contract)
    val m = treeMap2(tree.select(col("__lvl"), col("__idx"), col("k"),
      col("dp_count")))
    assert(m((3, 0L, "a")) == 2.0 && m((3, 0L, "b")) == 2.0)
    assert(m.size == 30) // 15 nodes x 2 surviving keys
  }

  test("keyed trees: one tree per key, key universe from the data") {
    val df = Seq((1L, 0.5, "a"), (2L, 7.5, "a"), (3L, 3.5, "b"))
      .toDF("uid", "v", "k")
    val tree = RangeTree.dpRangeCountTree(df, "uid", col("v"), Seq("k"),
      0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero)
    assert(tree.count() == 30) // 15 nodes x 2 keys
    val roots = tree.filter(col("__lvl") === 3)
      .collect().map(r => r.getString(2) -> r.getDouble(3)).toMap
    assert(roots == Map("a" -> 2.0, "b" -> 1.0))
    val q = RangeTree.rangeQueries(tree, Seq("k"), Seq((0L, 3L)), 8)
      .collect().map(r => r.getString(3) -> r.getDouble(4)).toMap
    assert(q == Map("a" -> 1.0, "b" -> 1.0))
  }

  test("sharded release == one-shot; draws once per (key, node) across shards") {
    // 10 keys, 4-key shards -> 3 shards; zero noise must reproduce the
    // one-shot keyed release exactly, and a counting source must show
    // exactly keys x nodes draws IN TOTAL across all shards
    val df = (0 until 10).flatMap(k =>
      Seq((k.toLong * 2 + 1, 0.5, f"k$k%02d"), (k.toLong * 2 + 2, 5.5, f"k$k%02d")))
      .toDF("uid", "v", "k")
    def rows(t: org.apache.spark.sql.DataFrame) = t.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)) -> r.getDouble(3))
      .toMap
    val oneShot = rows(RangeTree.dpRangeCountTree(df, "uid", col("v"),
      Seq("k"), 0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero))
    val dir = java.nio.file.Files.createTempDirectory("graft_shard_").toString
    val sharded = RangeTree.dpRangeCountTreeSharded(df, "uid", col("v"),
      Seq("k"), 0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero, dir,
      maxKeysPerShard = 4L)
    assert(rows(sharded.select(col("__lvl"), col("__idx"), col("k"),
      col("dp_count"))) == oneShot)
    assert(oneShot.size == 10 * 15)
    // the external-reader commit point exists (the partial-failure
    // contract, r17): absence marks a partial, unaccounted release
    assert(new java.io.File(s"$dir/_graft_release_committed").exists())
    // draw-once across shards AND actions: the parquet materialization is
    // the single draw point — exactly keys x (2*bins-1) draws total, and
    // re-reading the result triggers zero more
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    object Counting extends graft.core.NoiseSource {
      def laplace(b: Double): Double = { counter.incrementAndGet(); 0.0 }
      def gaussian(sigma: Double): Double = { counter.incrementAndGet(); 0.0 }
      def uniform(): Double = 0.5
    }
    val dir2 = java.nio.file.Files.createTempDirectory("graft_shard_").toString
    val rel = RangeTree.dpRangeCountTreeSharded(df, "uid", col("v"),
      Seq("k"), 0.0, 8.0, 8, 1.0, 10L, Counting, dir2,
      maxKeysPerShard = 4L)
    assert(counter.get == 10L * 15L, s"draws=${counter.get}")
    rel.collect(); rel.collect()
    assert(counter.get == 10L * 15L, "post-release actions must not redraw")
    // phantom PUBLIC keys release full zero trees; non-public keys drop
    val pub = Seq("k00", "k03", "zz_phantom").toDF("k")
    val dir3 = java.nio.file.Files.createTempDirectory("graft_shard_").toString
    val pubRel = rows(RangeTree.dpRangeCountTreeSharded(df, "uid", col("v"),
      Seq("k"), 0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero, dir3,
      publicKeys = Some(pub), maxKeysPerShard = 2L)
      .select(col("__lvl"), col("__idx"), col("k"), col("dp_count")))
    assert(pubRel.size == 3 * 15)
    assert(pubRel((3, 0L, "zz_phantom")) == 0.0)
    assert(pubRel((3, 0L, "k00")) == 2.0)
    assert(!pubRel.contains((3, 0L, "k01")))
    // the read-back union feeds the (distributed) post-processing
    // unchanged: consistency and quantiles match the one-shot tree's
    val oneTree = RangeTree.dpRangeCountTree(df, "uid", col("v"), Seq("k"),
      0.0, 8.0, 8, 1.0, 10L, graft.core.NoiseSource.Zero)
    val cOne = rows(RangeTree.enforceConsistency(oneTree, Seq("k"), 8)
      .select(col("__lvl"), col("__idx"), col("k"), col("dp_count")))
    val cSharded = rows(RangeTree.enforceConsistency(sharded, Seq("k"), 8)
      .select(col("__lvl"), col("__idx"), col("k"), col("dp_count")))
    assert(cSharded == cOne)
    def qmap(t: org.apache.spark.sql.DataFrame) =
      RangeTree.quantilesFromTree(t, Seq("k"), 0.0, 8.0, 8, Seq(0.5, 0.9))
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2))
        .toMap
    assert(qmap(sharded) == qmap(oneTree))
  }

  test("per-key estimated domains: heterogeneous scales, exact when clean") {
    // key "small" lives in [0, 1), key "big" in [0, 1000) — one global
    // domain would waste small's resolution 1000-fold; the keyed probe
    // reads each key's own quantile bins off the shared [0, 1024)
    // envelope (width 0.25, dyadic => exact doubles)
    val df = ((0 until 100).map(i => (i.toLong, i / 100.0, "small")) ++
      (0 until 100).map(i => (100L + i, i * 10.0, "big")))
      .toDF("uid", "v", "k")
    val dom = RangeTree.dpEstimatedDomains(df, "uid", col("v"), Seq("k"),
      envLo = 0.0, envHi = 1024.0, minBins = 64, epsilon = 1.0,
      maxPerUnit = 10L, noise = graft.core.NoiseSource.Zero,
      qLo = 0.01, qHi = 0.99, expand = 0.0)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // small: values 0.00..0.99 all in envelope bin 0..3; qLo bin = 0
    // (edge 0.0), qHi -> the bin of v=0.98 (floor(.98/.25) = 3, edge
    // .75) + w = 1.0; width = 1/64
    assert(dom("small") == ((0.0, 1.0)), dom("small").toString)
    // big: values 0, 10, .., 990 -> qLo bin 0 (edge 0), qHi bin of 980
    // = 3920 (edge 980) + .25 = 980.25; 64 bins at width 980.25/64
    assert(dom("big")._1 == 0.0 && math.abs(dom("big")._2 - 980.25) < 1e-12,
      dom("big").toString)
    // the per-key-domain release: exact per-key counts at per-key
    // resolution — "small" occupies the full bin range of ITS domain
    val domDf = Seq(("small", 0.0, 1.0), ("big", 0.0, 1000.0))
      .toDF("k", "lo", "hi")
    val tree = RangeTree.dpRangeCountTreePerKeyDomains(df, "uid", col("v"),
      Seq("k"), domDf, bins = 64, epsilon = 1.0, maxPerUnit = 10L,
      noise = graft.core.NoiseSource.Zero)
    val m = tree.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)) -> r.getDouble(3))
      .toMap
    assert(m.size == 2 * 127)
    assert(m((6, 0L, "small")) == 100.0 && m((6, 0L, "big")) == 100.0)
    // small: width 1/64 -> values i/100 spread over bins 0..63; bin 0
    // holds v = 0.00 and 0.01 (floor(.01*64) = 0) => 2 rows
    assert(m((0, 0L, "small")) == 2.0)
    // big: width 1000/64 = 15.625 -> bin 0 holds 0 and 10 => 2 rows;
    // bin 63 holds 990 => 1 row
    assert(m((0, 0L, "big")) == 2.0 && m((0, 63L, "big")) == 1.0)
    // a key with a domain but no data releases a full zero tree; rows
    // whose key has no domain drop
    val domPlus = Seq(("small", 0.0, 1.0), ("ghost", 0.0, 8.0))
      .toDF("k", "lo", "hi")
    val m2 = RangeTree.dpRangeCountTreePerKeyDomains(df, "uid", col("v"),
      Seq("k"), domPlus, 8, 1.0, 10L, graft.core.NoiseSource.Zero)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)) -> r.getDouble(3))
      .toMap
    assert(m2.size == 2 * 15)
    assert(m2((3, 0L, "ghost")) == 0.0 && m2((3, 0L, "small")) == 100.0)
    assert(!m2.keySet.exists(_._3 == "big"))
    // conflicting duplicate domain rows fail loud
    val e = intercept[IllegalArgumentException] {
      RangeTree.dpRangeCountTreePerKeyDomains(df, "uid", col("v"), Seq("k"),
        Seq(("small", 0.0, 1.0), ("small", 0.0, 2.0)).toDF("k", "lo", "hi"),
        8, 1.0, 10L, graft.core.NoiseSource.Zero)
    }
    assert(e.getMessage.contains("one row per key"), e.getMessage)
    // a keyed noisy-quantile inversion names itself (single key => the
    // probe's driver draw order is deterministic: leaves, levels, root)
    val one = (0 until 100).map(i => (i.toLong, 100.0 + i, "k"))
      .toDF("uid", "v", "k")
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    object Inverting extends graft.core.NoiseSource {
      private def next(): Double = counter.incrementAndGet() match {
        case 1L    => -0.5
        case 4097L => -0.5
        case 8191L => -101.0
        case _     => 0.0
      }
      def laplace(b: Double): Double = next()
      def gaussian(sigma: Double): Double = next()
      def uniform(): Double = 0.5
    }
    val e2 = intercept[Exception] {
      RangeTree.dpEstimatedDomains(one, "uid", col("v"), Seq("k"),
        0.0, 4096.0, 64, 1.0, 10L, Inverting, qLo = 0.01, qHi = 0.99,
        expand = 0.0).collect()
    }
    assert(SparkTestSession.chainMsg(e2).contains("noisy quantile inversion"),
      SparkTestSession.chainMsg(e2).take(300))
    // a NULL domain bound fails loud instead of silently nulling every
    // bin of that key out of the release join
    val badDom = Seq(("small", Some(0.0), Option.empty[Double]))
      .toDF("k", "lo", "hi")
    val e3 = intercept[Exception] {
      RangeTree.dpRangeCountTreePerKeyDomains(df, "uid", col("v"), Seq("k"),
        badDom, 8, 1.0, 10L, graft.core.NoiseSource.Zero).collect()
    }
    assert(SparkTestSession.chainMsg(e3).contains("NULL hi"),
      SparkTestSession.chainMsg(e3).take(300))
    // quantiles in VALUE units per key: each key's bins map through ITS
    // OWN domain — the median of "small" reads ~0.5, of "big" ~500
    val qv = RangeTree.quantilesFromTreePerKeyDomains(tree, domDf, Seq("k"),
      bins = 64, qs = Seq(0.5))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // small: 100 values 0.00..0.99, width 1/64; median bin = first with
    // prefix >= 50 -> values 0..0.49 fill bins 0..31 (floor(v*64)), bin
    // of v=0.49 is 31; prefix(31) = 50 -> bin 31, value_lo = 31/64
    assert(qv("small") == ((31L, 31.0 / 64)), qv("small").toString)
    // big: width 1000/64 = 15.625; median = v=490 -> bin 31, value 484.375
    assert(qv("big") == ((31L, 31 * 15.625)), qv("big").toString)
    // a tree key missing from the domains frame fails loud
    val e4 = intercept[Exception] {
      RangeTree.quantilesFromTreePerKeyDomains(tree,
        domDf.filter(col("k") === "small"), Seq("k"), 64, Seq(0.5)).collect()
    }
    assert(SparkTestSession.chainMsg(e4).contains("no domain row"),
      SparkTestSession.chainMsg(e4).take(300))
  }

  test("sharded SUM tree == one-shot; clamped mass, draw-once across shards") {
    val df = (0 until 6).flatMap(k => Seq(
      (k.toLong * 2 + 1, 0.5, 50.0, s"k$k"),   // weight clamps to 10
      (k.toLong * 2 + 2, 5.5, 3.0, s"k$k")))
      .toDF("uid", "v", "w", "k")
    def rows(t: org.apache.spark.sql.DataFrame) = t.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2)) -> r.getDouble(3))
      .toMap
    val oneShot = rows(RangeTree.dpRangeSumTree(df, "uid", col("v"),
      col("w"), Seq("k"), 0.0, 8.0, 8, 1.0, 10L, 0.0, 10.0,
      graft.core.NoiseSource.Zero))
    val dir = java.nio.file.Files.createTempDirectory("graft_sshard_").toString
    val sharded = rows(RangeTree.dpRangeSumTreeSharded(df, "uid", col("v"),
      col("w"), Seq("k"), 0.0, 8.0, 8, 1.0, 10L, 0.0, 10.0,
      graft.core.NoiseSource.Zero, dir, maxKeysPerShard = 2L)
      .select(col("__lvl"), col("__idx"), col("k"), col("dp_count")))
    assert(sharded == oneShot)
    assert(oneShot((3, 0L, "k0")) == 13.0) // clamped 10 + 3
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    object Counting extends graft.core.NoiseSource {
      def laplace(b: Double): Double = { counter.incrementAndGet(); 0.0 }
      def gaussian(sigma: Double): Double = { counter.incrementAndGet(); 0.0 }
      def uniform(): Double = 0.5
    }
    val dir2 = java.nio.file.Files.createTempDirectory("graft_sshard_").toString
    RangeTree.dpRangeSumTreeSharded(df, "uid", col("v"), col("w"), Seq("k"),
      0.0, 8.0, 8, 1.0, 10L, 0.0, 10.0, Counting, dir2,
      maxKeysPerShard = 2L).collect()
    assert(counter.get == 6L * 15L, s"draws=${counter.get}")
  }

  test("accountant-resolved calibration drives the release end-to-end") {
    // one budget covering a 2-release Gaussian fleet: the accountant
    // resolves the per-node sigma, and rangeTreeReleaseWithScale applies
    // it verbatim (echo source: every node reads exact + sigma)
    val acc = new graft.core.PLDBudgetAccountant(1.0, 1e-6)
    val t = acc.requestTreeRelease(bins = 8,
      graft.core.NoiseKind.Gaussian, count = 2)
    acc.computeBudgets()
    val sigma = t.perNodeScale
    assert(sigma > 0)
    object Echo extends graft.core.NoiseSource {
      def laplace(b: Double): Double = b
      def gaussian(s: Double): Double = s
      def uniform(): Double = 0.5
    }
    val df = Seq((1L, 0.5), (2L, 5.5)).toDF("uid", "v")
    val store = RangeTree.rangeTreeIngestStep(df, None, "uid", col("v"),
      Nil, 0.0, 8.0, 8, 10L)
    val m = treeMap(RangeTree.rangeTreeReleaseWithScale(store, Nil, 8,
      sigma, Echo, noiseKind = graft.core.NoiseKind.Gaussian))
    assert(m.size == 15)
    assert(m((0, 0L)) == 1.0 + sigma) // occupied leaf
    assert(m((0, 3L)) == sigma)       // empty leaf: noise only
    assert(m((3, 0L)) == 2.0 + sigma) // root
  }

  test("beyond-guard key cardinality: unsharded fails loud, sharded releases") {
    // bins = 4096 puts the release guard at MaxDriverRows / 8191 = 244
    // keys; 250 keys must be REJECTED by the one-shot release and handled
    // automatically by the sharded one (2 shards), end-to-end through the
    // quantile readout
    val n = 250
    val df = spark.range(0, n.toLong)
      .select(col("id").as("uid"),
        (col("id") % 100 * 10.0).as("v"),
        format_string("c%03d", col("id")).as("k"))
    val e = intercept[IllegalArgumentException] {
      RangeTree.dpRangeCountTree(df, "uid", col("v"), Seq("k"),
        0.0, 1000.0, 4096, 1.0, 10L, graft.core.NoiseSource.Zero).collect()
    }
    assert(e.getMessage.contains("shard the release"), e.getMessage)
    val dir = java.nio.file.Files.createTempDirectory("graft_shard_").toString
    val rel = RangeTree.dpRangeCountTreeSharded(df, "uid", col("v"),
      Seq("k"), 0.0, 1000.0, 4096, 1.0, 10L, graft.core.NoiseSource.Zero,
      dir)
    assert(rel.count() == n.toLong * (2 * 4096 - 1))
    // each key holds exactly one row; its root count is 1
    val roots = rel.filter(col("__lvl") === 12)
    assert(roots.count() == n.toLong)
    assert(roots.agg(sum(col("dp_count"))).head().getDouble(0) == n.toDouble)
    // quantile readout over the full 250-key release (distributed
    // post-processing — no driver cap anywhere on this path)
    val q = RangeTree.quantilesFromTree(rel, Seq("k"), 0.0, 1000.0, 4096,
      Seq(1.0)).collect()
    assert(q.length == n)
    // key c007 has its single row at v = 70 -> leaf bin 286 (width 1000/4096)
    val c7 = q.find(_.getString(0) == "c007").get
    assert(c7.getLong(2) == math.floor(70.0 / (1000.0 / 4096)).toLong)
  }

  private def tree2DMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)) ->
        r.getDouble(4)).toMap

  test("2-D tree: zero noise releases exact product-node counts; clamp and NULLs") {
    // 4x4 grid (width 1 each): cells (0,0):2 rows, (1,2):1, (3,3):1
    val df = Seq((1L, 0.5, 0.5), (2L, 0.9, 0.1), (1L, 1.5, 2.5),
      (3L, 3.5, 3.5)).toDF("uid", "x", "y")
    val t = RangeTree.dpRange2DTree(df, "uid", col("x"), col("y"), Nil,
      0.0, 4.0, 4, 0.0, 4.0, 4, 1.0, 10L, graft.core.NoiseSource.Zero)
    val m = tree2DMap(t)
    assert(m.size == 7 * 7) // (2*4-1)^2 product nodes, ALL released
    // leaves
    assert(m((0, 0L, 0, 0L)) == 2.0)
    assert(m((0, 1L, 0, 2L)) == 1.0)
    assert(m((0, 3L, 0, 3L)) == 1.0)
    assert(m((0, 2L, 0, 2L)) == 0.0) // empty cell still released
    // mixed levels: x-node [0,2) x y-leaf 0 = 2 rows; root = n
    assert(m((1, 0L, 0, 0L)) == 2.0)
    assert(m((2, 0L, 1, 1L)) == 2.0) // all x, y in [2,4): rows (1.5,2.5),(3.5,3.5)
    assert(m((2, 0L, 2, 0L)) == 4.0) // root
    // out-of-range values CLAMP to edge cells on BOTH axes
    val cm = tree2DMap(RangeTree.dpRange2DTree(
      Seq((1L, -9.0, 99.0)).toDF("uid", "x", "y"), "uid", col("x"),
      col("y"), Nil, 0.0, 4.0, 4, 0.0, 4.0, 4, 1.0, 10L,
      graft.core.NoiseSource.Zero))
    assert(cm((0, 0L, 0, 3L)) == 1.0)
    // NULL x fails loud
    val e = intercept[Exception](RangeTree.dpRange2DTree(
      Seq((1L, null.asInstanceOf[java.lang.Double], java.lang.Double.valueOf(1.0)))
        .toDF("uid", "x", "y"),
      "uid", col("x"), col("y"), Nil, 0.0, 4.0, 4, 0.0, 4.0, 4, 1.0, 10L,
      graft.core.NoiseSource.Zero).collect())
    assert(SparkTestSession.chainMsg(e).contains("NULL x value"))
  }

  test("2-D tree: draw-once — exactly nodes x keys draws at construction, none from box queries") {
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    object Counting extends graft.core.NoiseSource {
      def laplace(b: Double): Double = counter.incrementAndGet() * 1000.0
      def gaussian(sigma: Double): Double = counter.incrementAndGet() * 1000.0
      def uniform(): Double = 0.5
    }
    val df = Seq((1L, 0.5, 0.5, "a"), (2L, 3.5, 2.5, "b"))
      .toDF("uid", "x", "y", "k")
    val t = RangeTree.dpRange2DTree(df, "uid", col("x"), col("y"),
      Seq("k"), 0.0, 4.0, 4, 0.0, 8.0, 8, 1.0, 10L, Counting)
    // (2*4-1) * (2*8-1) = 105 product nodes x 2 keys
    assert(counter.get == 105L * 2, s"draws=${counter.get}")
    def snap() = t.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getString(4)) -> r.getDouble(5)).toMap
    val first = snap()
    assert(snap() == first) // second action: same draws
    assert(counter.get == 105L * 2, "a second action re-drew node noise")
    RangeTree.range2DQueries(t, Seq("k"), Seq((0L, 3L, 0L, 7L)), 4, 8)
      .collect()
    assert(counter.get == 105L * 2, "box queries drew new noise")
  }

  test("2-D box queries: cover = per-axis cover product; zero noise exact (property)") {
    // const-1 source: a box reads exact + |coverX| * |coverY|
    object ConstOne extends graft.core.NoiseSource {
      def laplace(b: Double): Double = 1.0
      def gaussian(sigma: Double): Double = 1.0
      def uniform(): Double = 0.5
    }
    val rnd = new scala.util.Random(23)
    val pts = (1 to 40).map(i =>
      (i.toLong, rnd.nextInt(16).toDouble + 0.5, rnd.nextInt(8).toDouble + 0.5))
    val df = pts.toDF("uid", "x", "y")
    val exactT = RangeTree.dpRange2DTree(df, "uid", col("x"), col("y"),
      Nil, 0.0, 16.0, 16, 0.0, 8.0, 8, 1.0, 10L,
      graft.core.NoiseSource.Zero)
    val oneT = RangeTree.dpRange2DTree(df, "uid", col("x"), col("y"),
      Nil, 0.0, 16.0, 16, 0.0, 8.0, 8, 1.0, 10L, ConstOne)
    val boxes = (1 to 12).map { _ =>
      val xlo = rnd.nextInt(16).toLong
      val xhi = xlo + rnd.nextInt(16 - xlo.toInt).toLong
      val ylo = rnd.nextInt(8).toLong
      val yhi = ylo + rnd.nextInt(8 - ylo.toInt).toLong
      (xlo, xhi, ylo, yhi)
    }
    val got = RangeTree.range2DQueries(exactT, Nil, boxes, 16, 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val one = RangeTree.range2DQueries(oneT, Nil, boxes, 16, 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    boxes.zipWithIndex.foreach { case ((xlo, xhi, ylo, yhi), qid) =>
      val brute = pts.count(p => p._2.toLong >= xlo && p._2.toLong <= xhi &&
        p._3.toLong >= ylo && p._3.toLong <= yhi)
      assert(got(qid.toLong) == brute.toDouble,
        s"box ($xlo,$xhi,$ylo,$yhi): ${got(qid.toLong)} != $brute")
      val coverN = RangeTree.decompose(xlo, xhi).size *
        RangeTree.decompose(ylo, yhi).size
      assert(one(qid.toLong) == brute.toDouble + coverN,
        s"box $qid read ${one(qid.toLong)} — cover size drifted from $coverN")
    }
    // out-of-domain boxes fail loud on either axis
    val e = intercept[IllegalArgumentException](
      RangeTree.range2DQueries(exactT, Nil, Seq((0L, 16L, 0L, 7L)), 16, 8))
    assert(e.getMessage.contains("x range"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      RangeTree.range2DQueries(exactT, Nil, Seq((0L, 15L, 3L, 8L)), 16, 8))
    assert(e2.getMessage.contains("y range"), e2.getMessage)
  }

  test("2-D tree: Gaussian sigma at L2 = maxPerUnit * sqrt((lx+1)(ly+1)); publicKeys phantom") {
    object EchoScale extends graft.core.NoiseSource {
      def laplace(b: Double): Double = -b
      def gaussian(sigma: Double): Double = sigma
      def uniform(): Double = 0.5
    }
    val df = Seq((1L, 0.5, 0.5), (2L, 3.5, 2.5)).toDF("uid", "x", "y")
    val eps = 1.0; val dlt = 1e-6; val cap = 3L
    val exact = tree2DMap(RangeTree.dpRange2DTree(df, "uid", col("x"),
      col("y"), Nil, 0.0, 4.0, 4, 0.0, 8.0, 8, eps, cap,
      graft.core.NoiseSource.Zero))
    val gauss = tree2DMap(RangeTree.dpRange2DTree(df, "uid", col("x"),
      col("y"), Nil, 0.0, 4.0, 4, 0.0, 8.0, 8, eps, cap, EchoScale, None,
      graft.core.NoiseKind.Gaussian, dlt))
    // touches = (levelsX+1)(levelsY+1) = 3 * 4 = 12
    val sigma = graft.core.DpNoise.gaussianSigma(eps, dlt,
      cap * math.sqrt(12.0))
    gauss.foreach { case (k, v) =>
      assert(math.abs(v - (exact(k) + sigma)) < 1e-12, s"node $k") }
    // Laplace scale = cap * touches / eps (echoed as -b)
    val lap = tree2DMap(RangeTree.dpRange2DTree(df, "uid", col("x"),
      col("y"), Nil, 0.0, 4.0, 4, 0.0, 8.0, 8, eps, cap, EchoScale))
    lap.foreach { case (k, v) =>
      assert(math.abs(v - (exact(k) - cap * 12.0 / eps)) < 1e-12, s"node $k") }
    // delta under Laplace / missing delta under Gaussian fail loud
    intercept[IllegalArgumentException](RangeTree.dpRange2DTree(df, "uid",
      col("x"), col("y"), Nil, 0.0, 4.0, 4, 0.0, 8.0, 8, eps, cap,
      EchoScale, None, graft.core.NoiseKind.Laplace, 0.5))
    intercept[IllegalArgumentException](RangeTree.dpRange2DTree(df, "uid",
      col("x"), col("y"), Nil, 0.0, 4.0, 4, 0.0, 8.0, 8, eps, cap,
      EchoScale, None, graft.core.NoiseKind.Gaussian, 0.0))
    // publicKeys: phantom key releases a FULL zero tree; non-public drops
    val keyed = Seq((1L, 0.5, 0.5, "a"), (2L, 1.5, 1.5, "drop"))
      .toDF("uid", "x", "y", "k")
    val pub = Seq("a", "phantom").toDF("k")
    val rel = RangeTree.dpRange2DTree(keyed, "uid", col("x"), col("y"),
      Seq("k"), 0.0, 4.0, 4, 0.0, 4.0, 4, 1.0, 10L,
      graft.core.NoiseSource.Zero, Some(pub))
    val byKey = rel.collect().groupBy(_.getString(4))
    assert(byKey.keySet == Set("a", "phantom"))
    assert(byKey("phantom").length == 49 &&
      byKey("phantom").forall(_.getDouble(5) == 0.0))
    val rootA = byKey("a").find(r =>
      r.getInt(0) == 2 && r.getInt(2) == 2).get
    assert(rootA.getDouble(5) == 1.0) // the "drop" row is gone
  }

  test("2-D sharded release == one-shot; exactly one draw per (key, node) across shards") {
    val rnd = new scala.util.Random(31)
    val df = (1 to 60).map(i => (i.toLong, rnd.nextInt(4).toDouble + 0.5,
      rnd.nextInt(4).toDouble + 0.5, s"k${i % 5}")).toDF("uid", "x", "y", "k")
    def key2D(r: org.apache.spark.sql.Row) =
      (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getString(4))
    val oneShot = RangeTree.dpRange2DTree(df, "uid", col("x"), col("y"),
      Seq("k"), 0.0, 4.0, 4, 0.0, 4.0, 4, 1.0, 10L,
      graft.core.NoiseSource.Zero)
      .collect().map(r => key2D(r) -> r.getDouble(5)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_2d_sh_").toString
    val sharded = RangeTree.dpRange2DTreeSharded(df, "uid", col("x"),
      col("y"), Seq("k"), 0.0, 4.0, 4, 0.0, 4.0, 4, 1.0, 10L,
      graft.core.NoiseSource.Zero, dir, maxKeysPerShard = 2L)
      .collect().map(r => key2D(r) -> r.getDouble(5)).toMap
    assert(sharded == oneShot) // 3 shards (5 keys at 2/shard), same tree
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith(
      "shard=")) == 3)
    // counting source: exactly keys x (2*4-1)^2 draws in TOTAL across
    // shards, and the read-back (parquet) never re-draws
    val counter = new java.util.concurrent.atomic.AtomicLong(0)
    object Counting extends graft.core.NoiseSource {
      def laplace(b: Double): Double = counter.incrementAndGet() * 1000.0
      def gaussian(sigma: Double): Double = counter.incrementAndGet() * 1000.0
      def uniform(): Double = 0.5
    }
    val dir2 = java.nio.file.Files.createTempDirectory("graft_2d_sh_").toString
    val rel = RangeTree.dpRange2DTreeSharded(df, "uid", col("x"), col("y"),
      Seq("k"), 0.0, 4.0, 4, 0.0, 4.0, 4, 1.0, 10L, Counting, dir2,
      maxKeysPerShard = 2L)
    assert(counter.get == 5L * 49, s"draws=${counter.get}")
    rel.collect(); rel.collect()
    RangeTree.range2DQueries(rel, Seq("k"), Seq((0L, 3L, 0L, 3L)), 4, 4)
      .collect()
    assert(counter.get == 5L * 49,
      "read-back actions or box queries re-drew shard noise")
  }

  test("2-D ingest fold: any batch split releases exactly the one-shot product tree") {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 50).map(i => (i.toLong, rnd.nextInt(8).toDouble + 0.5,
      rnd.nextInt(4).toDouble + 0.5, s"k${i % 3}"))
    val df = rows.toDF("uid", "x", "y", "k")
    def m(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getString(4)) -> r.getDouble(5)).toMap
    val oneShot = m(RangeTree.dpRange2DTree(df, "uid", col("x"), col("y"),
      Seq("k"), 0.0, 8.0, 8, 0.0, 4.0, 4, 1.0, 100L,
      graft.core.NoiseSource.Zero))
    // fold over a 3-way split (by uid, so the per-batch cap contract is
    // exactly the one-shot cap — non-binding here anyway)
    val batches = Seq(df.filter(col("uid") % 3 === 0),
      df.filter(col("uid") % 3 === 1), df.filter(col("uid") % 3 === 2))
    var store: Option[org.apache.spark.sql.DataFrame] = None
    batches.foreach { b =>
      store = Some(RangeTree.range2DIngestStep(b, store, "uid", col("x"),
        col("y"), Seq("k"), 0.0, 8.0, 8, 0.0, 4.0, 4, 100L)
        .localCheckpoint(false))
    }
    val folded = m(RangeTree.range2DTreeRelease(store.get, Seq("k"), 8, 4,
      1.0, 100L, graft.core.NoiseSource.Zero))
    assert(folded == oneShot)
    // the store stays tree-shaped after every step: <= (2*8-1)(2*4-1) x 3
    assert(store.get.count() <= 15L * 7 * 3)
  }

  test("2-D accountant wiring: requestTreeRelease2D resolves the product-tree scale") {
    object EchoScale extends graft.core.NoiseSource {
      def laplace(b: Double): Double = -b
      def gaussian(sigma: Double): Double = sigma
      def uniform(): Double = 0.5
    }
    val df = Seq((1L, 0.5, 0.5), (2L, 3.5, 5.5)).toDF("uid", "x", "y")
    // naive accountant, whole budget on one 2-D release: the resolved
    // per-node scale must equal the one-shot formula — touches =
    // (levelsX+1)(levelsY+1) = 3 * 4 = 12 at binsX=4, binsY=8
    val acc = new graft.core.NaiveBudgetAccountant(2.0, 0.0)
    val t = acc.requestTreeRelease2D(binsX = 4, binsY = 8,
      graft.core.NoiseKind.Laplace)
    acc.computeBudgets()
    assert(t.touches == 12)
    assert(math.abs(t.perNodeScale - 12.0 / 2.0) < 1e-12)
    // the accountant-driven release == the epsilon-parameterized release
    // (same echo-scale offsets on every node)
    def m(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)) ->
        r.getDouble(4)).toMap
    val viaAcc = m(RangeTree.dpRange2DTreeWithScale(df, "uid", col("x"),
      col("y"), Nil, 0.0, 4.0, 4, 0.0, 8.0, 8, t.perNodeScale, 1L,
      EchoScale))
    val direct = m(RangeTree.dpRange2DTree(df, "uid", col("x"), col("y"),
      Nil, 0.0, 4.0, 4, 0.0, 8.0, 8, 2.0, 1L, EchoScale))
    assert(viaAcc == direct)
    // Gaussian: the handle's L2 = unitLinf * sqrt(touches) under the
    // naive path matches the one-shot Balle-Wang calibration
    val accG = new graft.core.NaiveBudgetAccountant(1.0, 1e-6)
    val tg = accG.requestTreeRelease2D(binsX = 4, binsY = 8,
      graft.core.NoiseKind.Gaussian, unitLinf = 3.0)
    accG.computeBudgets()
    val sigma = graft.core.DpNoise.gaussianSigma(
      tg.handle.spec.epsilon, tg.handle.spec.delta, 3.0 * math.sqrt(12.0))
    assert(math.abs(tg.perNodeScale - sigma) < 1e-12)
  }

  test("explainRelease2D: calibration, node count, and box-error shape are stated") {
    val lap = RangeTree.explainRelease2D(binsX = 16, binsY = 32,
      epsilon = 2.0, maxPerUnit = 3L, keyed = true)
    // touches = 5 * 6 = 30; b = 3 * 1 * 30 / 2 = 45
    assert(lap.contains("16 x 32 power-of-two bins"))
    assert(lap.contains("1953 product nodes per key"))
    assert(lap.contains("= 30"))
    assert(lap.contains("45.0000"))
    assert(lap.contains("Laplace"))
    val g = RangeTree.explainRelease2D(binsX = 16, binsY = 32,
      epsilon = 1.0, maxPerUnit = 3L,
      noiseKind = graft.core.NoiseKind.Gaussian, delta = 1e-6)
    val sigma = graft.core.DpNoise.gaussianSigma(1.0, 1e-6,
      3.0 * math.sqrt(30.0))
    assert(g.contains("Gaussian") && g.contains(f"$sigma%g"))
    // Laplace + delta fails loud (the treeScale contract)
    intercept[IllegalArgumentException](RangeTree.explainRelease2D(16, 32,
      1.0, 3L, graft.core.NoiseKind.Laplace, delta = 0.5))
  }

  test("2-D sum tree: clamped box masses; the clamp binds and is part of the release") {
    // weights 10 and -3 clamp into [0, 5] -> 5 and 0; cell (0,0) mass 5
    val df = Seq((1L, 0.5, 0.5, 10.0), (2L, 0.5, 0.5, -3.0),
      (3L, 3.5, 3.5, 2.0)).toDF("uid", "x", "y", "w")
    val t = RangeTree.dpRange2DSumTree(df, "uid", col("x"), col("y"),
      col("w"), Nil, 0.0, 4.0, 4, 0.0, 4.0, 4, 1.0, 10L, minW = 0.0,
      maxW = 5.0, graft.core.NoiseSource.Zero)
    val m = tree2DMap(t)
    assert(m((0, 0L, 0, 0L)) == 5.0) // 5 + 0: both clamps bound
    assert(m((0, 3L, 0, 3L)) == 2.0)
    assert(m((2, 0L, 2, 0L)) == 7.0) // root = total clamped mass
    // box queries read the clamped mass (schema shared with the count tree)
    val q = RangeTree.range2DQueries(t, Nil, Seq((0L, 1L, 0L, 1L)), 4, 4)
      .collect().head.getDouble(5)
    assert(q == 5.0)
    // Laplace scale picks up max|W|: echo source offsets by cap*|W|*touches/eps
    object EchoScale extends graft.core.NoiseSource {
      def laplace(b: Double): Double = -b
      def gaussian(sigma: Double): Double = sigma
      def uniform(): Double = 0.5
    }
    val lap = tree2DMap(RangeTree.dpRange2DSumTree(df, "uid", col("x"),
      col("y"), col("w"), Nil, 0.0, 4.0, 4, 0.0, 4.0, 4, 2.0, 3L,
      minW = -5.0, maxW = 4.0, EchoScale))
    // touches = 3*3 = 9; b = 3 * max(5, 4) * 9 / 2 = 67.5
    val exact = tree2DMap(RangeTree.dpRange2DSumTree(df, "uid", col("x"),
      col("y"), col("w"), Nil, 0.0, 4.0, 4, 0.0, 4.0, 4, 2.0, 3L,
      minW = -5.0, maxW = 4.0, graft.core.NoiseSource.Zero))
    lap.foreach { case (k, v) =>
      assert(math.abs(v - (exact(k) - 67.5)) < 1e-12, s"node $k") }
    // NULL weight fails loud
    val e = intercept[Exception](RangeTree.dpRange2DSumTree(
      Seq((1L, 0.5, 0.5, null.asInstanceOf[java.lang.Double]))
        .toDF("uid", "x", "y", "w"),
      "uid", col("x"), col("y"), col("w"), Nil, 0.0, 4.0, 4, 0.0, 4.0, 4,
      1.0, 10L, 0.0, 5.0, graft.core.NoiseSource.Zero).collect())
    assert(SparkTestSession.chainMsg(e).contains("NULL weight"))
  }

  test("2-D tree: per-unit cap keeps the deterministic lowest-(bx, by, x, y) rows") {
    val df = Seq((1L, 3.5, 3.5), (1L, 0.5, 2.5), (1L, 0.5, 0.5),
      (2L, 1.5, 1.5)).toDF("uid", "x", "y")
    val m = tree2DMap(RangeTree.dpRange2DTree(df, "uid", col("x"),
      col("y"), Nil, 0.0, 4.0, 4, 0.0, 4.0, 4, 1.0, maxPerUnit = 2L,
      graft.core.NoiseSource.Zero))
    assert(m((2, 0L, 2, 0L)) == 3.0) // 2 kept for unit 1 + 1 for unit 2
    assert(m((0, 0L, 0, 0L)) == 1.0 && m((0, 0L, 0, 2L)) == 1.0)
    assert(m((0, 3L, 0, 3L)) == 0.0) // unit 1's highest cell dropped
  }

  test("2-D consistency: zero-noise identity, never-worse per sweep, geometric residual decay") {
    // -- pure-math core over a synthetic 8x4 product tree ---------------
    val (binsX, binsY) = (8, 4)
    val (nx, ny) = (2 * binsX - 1, 2 * binsY - 1)
    // exact leaf grid -> exact product tree (truth: node = rect sum)
    val rnd = new scala.util.Random(99)
    val leaves = Array.fill(binsX, binsY)(rnd.nextInt(20).toDouble)
    def xOff(l: Int) = (0 until l).map(binsX >> _).sum
    def yOff(l: Int) = (0 until l).map(binsY >> _).sum
    val truth = Array.ofDim[Double](nx, ny)
    for (lx <- 0 to 3; ix <- 0 until (binsX >> lx);
         ly <- 0 to 2; iy <- 0 until (binsY >> ly)) {
      var s = 0.0
      for (a <- (ix << lx) until ((ix + 1) << lx);
           b <- (iy << ly) until ((iy + 1) << ly)) s += leaves(a)(b)
      truth(xOff(lx) + ix)(yOff(ly) + iy) = s
    }
    // flatten helpers in the sweep's input shape
    def flat(g: Array[Array[Double]]) = {
      val lvx = collection.mutable.ArrayBuffer.empty[Int]
      val idx = collection.mutable.ArrayBuffer.empty[Long]
      val lvy = collection.mutable.ArrayBuffer.empty[Int]
      val idy = collection.mutable.ArrayBuffer.empty[Long]
      val c = collection.mutable.ArrayBuffer.empty[Double]
      for (lx <- 0 to 3; ix <- 0 until (binsX >> lx);
           ly <- 0 to 2; iy <- 0 until (binsY >> ly)) {
        lvx += lx; idx += ix.toLong; lvy += ly; idy += iy.toLong
        c += g(xOff(lx) + ix)(yOff(ly) + iy)
      }
      (lvx.toSeq, idx.toSeq, lvy.toSeq, idy.toSeq, c.toSeq)
    }
    def run(g: Array[Array[Double]], sweeps: Int) = {
      val (a, b, cc, d, e) = flat(g)
      RangeTree.consistency2DSweepOneKey(a, b, cc, d, e, binsX, binsY,
        sweeps).map { case (lx, ix, ly, iy, v) =>
        ((lx, ix, ly, iy), v) }.toMap
    }
    def l2ToTruth(m: Map[(Int, Long, Int, Long), Double]) = math.sqrt(
      m.iterator.map { case ((lx, ix, ly, iy), v) =>
        val d = v - truth(xOff(lx) + ix.toInt)(yOff(ly) + iy.toInt); d * d
      }.sum)
    // residual inconsistency: max |parent - child sum| over BOTH axes
    def residual(m: Map[(Int, Long, Int, Long), Double]) = {
      var r = 0.0
      for (lx <- 1 to 3; ix <- 0L until (binsX >> lx).toLong;
           ly <- 0 to 2; iy <- 0L until (binsY >> ly).toLong)
        r = math.max(r, math.abs(m((lx, ix, ly, iy)) -
          m((lx - 1, 2 * ix, ly, iy)) - m((lx - 1, 2 * ix + 1, ly, iy))))
      for (lx <- 0 to 3; ix <- 0L until (binsX >> lx).toLong;
           ly <- 1 to 2; iy <- 0L until (binsY >> ly).toLong)
        r = math.max(r, math.abs(m((lx, ix, ly, iy)) -
          m((lx, ix, ly - 1, 2 * iy)) - m((lx, ix, ly - 1, 2 * iy + 1))))
      r
    }
    // (a) zero noise: every sweep is the IDENTITY (already consistent)
    val id = run(truth, 8)
    id.foreach { case ((lx, ix, ly, iy), v) =>
      assert(v == truth(xOff(lx) + ix.toInt)(yOff(ly) + iy.toInt),
        s"identity broke at ($lx,$ix,$ly,$iy)") }
    // (b) noisy release: deterministic pseudo-noise per node
    val noisy = Array.tabulate(nx, ny)((i, j) =>
      truth(i)(j) + ((i * 31 + j * 17) % 13 - 6).toDouble)
    val raw = run(noisy, 0 + 1) // 1 double-sweep
    val more = run(noisy, 8)
    val errRaw = math.sqrt((for (i <- 0 until nx; j <- 0 until ny) yield {
      val d = noisy(i)(j) - truth(i)(j); d * d }).sum)
    val err1 = l2ToTruth(raw)
    val err8 = l2ToTruth(more)
    // never-worse at every prefix: raw >= 1 sweep >= 8 sweeps (weakly)
    assert(err1 <= errRaw + 1e-9, s"1 sweep worsened: $err1 vs $errRaw")
    assert(err8 <= err1 + 1e-9, s"8 sweeps worsened: $err8 vs $err1")
    assert(err8 < 0.9 * errRaw, s"no real improvement: $err8 vs $errRaw")
    // geometric residual decay to ~consistency
    val res1 = residual(run(noisy, 1))
    val res8 = residual(more)
    assert(res8 < 1e-6 * math.max(res1, 1.0),
      s"residual did not converge: $res8 vs $res1")
    // (c) the distributed face: zero-noise identity through Spark,
    // schema preserved, keyed
    val df = Seq((1L, 0.5, 0.5, "k"), (2L, 1.5, 2.5, "k"),
      (3L, 3.5, 1.5, "k2"), (1L, 2.5, 3.5, "k2")).toDF("uid", "x", "y", "key")
    val t = RangeTree.dpRange2DTree(df, "uid", col("x"), col("y"),
      Seq("key"), 0.0, 4.0, 4, 0.0, 4.0, 4, 1.0, 10L,
      graft.core.NoiseSource.Zero)
    val out = RangeTree.enforce2DConsistency(t, Seq("key"), 4, 4)
      .select("__lvx", "__idxx", "__lvy", "__idxy", "key", "dp_count")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getString(4)) -> r.getDouble(5)).toMap
    val in = t.select("__lvx", "__idxx", "__lvy", "__idxy", "key", "dp_count")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getString(4)) -> r.getDouble(5)).toMap
    assert(out == in, "zero-noise 2-D consistency must be the identity")
    // partial universe fails loud
    val e = intercept[Exception](RangeTree.enforce2DConsistency(
      t.filter(col("__lvx") === 0), Seq("key"), 4, 4).collect())
    assert(SparkTestSession.chainMsg(e).contains("FULL released"))
  }

  test("rangeTreeRelease rejects a non-power-of-two bins") {
    // a 48-bin release would publish a 94-node universe whose root covers
    // only bins 0-31
    val store = RangeTree.rangeTreeIngestStep(Seq((1L, 0.5)).toDF("uid", "v"),
      None, "uid", col("v"), Nil, 0.0, 8.0, 64, 10L)
    val e = intercept[IllegalArgumentException](RangeTree.rangeTreeRelease(
      store, Nil, 48, 1.0, 10L, graft.core.NoiseSource.Zero))
    assert(e.getMessage.contains("power of two"), e.getMessage)
  }

  test("range2DTreeRelease rejects binsX * binsY over 65536") {
    val store = RangeTree.range2DIngestStep(
      Seq((1L, 0.5, 0.5)).toDF("uid", "x", "y"), None, "uid", col("x"),
      col("y"), Nil, 0.0, 1.0, 2, 0.0, 1.0, 2, 10L)
    val e = intercept[IllegalArgumentException](RangeTree.range2DTreeRelease(
      store, Nil, 4096, 32, 1.0, 10L, graft.core.NoiseSource.Zero))
    assert(e.getMessage.contains("65536"), e.getMessage)
  }

  test("release entry points pin a store only while it carries its ingest plan") {
    val df = Seq((1L, 0.5), (2L, 3.5)).toDF("uid", "v")
    val raw = RangeTree.rangeTreeIngestStep(df, None, "uid", col("v"), Nil,
      0.0, 8.0, 8, 10L)
    assert(!(RangeTree.materialized(raw) eq raw))
    val pinned = raw.localCheckpoint(false)
    assert(RangeTree.materialized(pinned) eq pinned)
    val view = pinned.filter(col("__lvl") > 0).select("__lvl", "__idx", "__s")
    assert(RangeTree.materialized(view) eq view)
    val dir = java.nio.file.Files.createTempDirectory("graft_store_").toString
    pinned.write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
    assert(RangeTree.materialized(read) eq read)
  }
}
