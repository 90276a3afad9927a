package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataflow helpers that need more than a one-liner of native Spark
  * (the rest of SURVEY §2.A/2.B maps directly onto Dataset operators). */
object Dataflow {

  /** ThreadLocal digest (NoiseSource.Secure's pattern) for the bloom probe:
    * the probe UDF runs once per BIG-side row, so a per-call
    * MessageDigest.getInstance is pure allocator pressure on the hottest
    * path of the join. Object-level so the UDF closure references it
    * statically — a captured ThreadLocal would fail task serialization. */
  private[spark] val bloomMd: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** sample_fixed_per_key (SURVEY §2.A): a uniform sample without
    * replacement of at most `n` rows per key,
    * `row_number() over (partition by keys order by rand())` — the window
    * sort randomizes, the filter bounds, and uniformity holds exactly (a
    * uniform random permutation prefix). For n below
    * `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000),
    * Spark's InferWindowGroupLimit plants a Partial WindowGroupLimit before
    * the exchange, so each map task ships at most n rows per key. */
  def sampleRowsPerKey(df: DataFrame, keys: Seq[String], n: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(rand())
    df.withColumn(RnCol, row_number().over(w)).filter(col(RnCol) <= n).drop(RnCol)
  }

  private val RnCol = "__graft_rn"

  /** Skew-resilient filter_by_key (reference: the sharded variant of
    * pipeline_dp's filter_by_key; SURVEY §2.B): a plain left-semi join
    * funnels every row of a hot key through one task — here the probe side
    * gets a uniform salt in [0, KeyShards) and the key side is replicated
    * across all shards, so each hot key spreads over KeyShards tasks. The
    * output is identical to the unsalted semi-join (salting only changes the
    * physical distribution), at the cost of a KeyShards-times larger
    * key-side shuffle — use for key lists that are small relative to the
    * data but match a skewed fraction of it. For mild skew prefer plain
    * left_semi + AQE skew handling. */
  def filterByKeySharded(
      df: DataFrame,
      keys: DataFrame,
      keyCols: Seq[String]
  ): DataFrame = {
    val salted = df.withColumn("__graft_salt", (rand() * KeyShards).cast("int"))
    val replicated = keys.select(keyCols.map(col): _*).distinct()
      .withColumn("__graft_salt", explode(array((0 until KeyShards).map(lit): _*)))
    salted.join(replicated, keyCols :+ "__graft_salt", "left_semi")
      .drop("__graft_salt")
  }

  /** Salt shards of [[filterByKeySharded]]: its one caller's value. */
  private val KeyShards = 8

  /** Bloom-pre-filtered shuffle equi-join: build a PORTABLE Bloom filter
    * over the small side's join keys ([[graft.ops.Sketches.bloomPositions]]
    * — the same md5 bit positions any engine reproduces), assemble it into
    * a driver bitmap (bounded by construction: `mBits/8` bytes — 128 KiB at
    * the 2^20 default, regardless of data scale), and filter the BIG side
    * with a fused per-row membership test BEFORE its rows reach
    * the shuffle. Rows whose key cannot be on the small side never get
    * hashed, serialized, or sent over the network — at 100 TB the shuffle
    * write is the join's dominant cost, and with a selective small side the
    * Bloom drops most of it for one broadcast-sized bitmap. False positives
    * only cost shuffle bytes, never correctness: the equi-join removes them,
    * so the result is EXACTLY the plain join (the oracle is plain SQL).
    *
    * This is the manual form of Spark's runtime row-level filtering, kept
    * explicit so the bitmap is portable (engine-independent md5, not Spark's
    * internal bloom binary) and reusable across queries. The per-row
    * membership test is a fused primitive UDF (md5 once, both
    * Kirsch-Mitzenmacher halves from digest bytes, d bit tests) — the
    * expression form measured 1.3-1.8 s/sf0.1, CodegenFallback-bound (see
    * ARCHITECTURE "Bloom probe cost"), the documented measured-ladder
    * exception to functions-first; bit-equal to the SQL oracle's replay.
    *
    * Prefer a plain broadcast join when the small side itself fits in a
    * broadcast — the Bloom pays off when BOTH sides are shuffle-scale but
    * the small side's key set still fits a bitmap. */
  def bloomFilteredJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      d: Int = 5,
      mBits: Int = 1 << 20
  ): DataFrame = {
    require(Integer.bitCount(mBits) == 1 && mBits >= 64,
      s"mBits must be a power of two >= 64, got $mBits")
    require(d > 0, s"d must be positive, got $d")
    // the bloom probe hashes each side's key RENDERED AS A STRING, so the
    // two sides must render identically: a DOUBLE 1.0 ("1.0") probed
    // against an INT 1 ("1") would be filtered out even though the
    // equi-join (with Spark's implicit numeric coercion) would match it —
    // silently violating the exactness guarantee. Same-FAMILY integral
    // widths are safe (TINYINT..BIGINT all render 1 as "1" and the join
    // coerces to the wider type losslessly), so those pass; any other
    // mismatch (fractional vs integral, string vs numeric, decimal scales)
    // fails loud instead of guessing a coercion.
    val (bigT, smallT) = (big.schema(bigKey).dataType, small.schema(smallKey).dataType)
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    require(bigT == smallT || (integral(bigT) && integral(smallT)),
      s"bloomFilteredJoin: key types differ ($bigT vs $smallT) — the " +
        "string-rendered bloom probe would disagree with the join's coercion; " +
        "cast the keys to one type first (same-width integral pairs are allowed)")
    // fractional keys need one more normalization: the equi-join treats
    // -0.0 = 0.0 (NormalizeFloatingNumbers) but the string render does not
    // ("-0.0" vs "0.0" hash differently) — fold negative zero on BOTH probe
    // sides so a -0.0/0.0 pair cannot false-negative out of the join
    def probeKey(c: org.apache.spark.sql.Column,
        dt: org.apache.spark.sql.types.DataType) = dt match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType =>
        when(c === lit(0.0), lit(0.0).cast(dt)).otherwise(c)
      case _ => c
    }
    val words = new Array[Long](mBits / 64)
    // bounded driver assembly: bloomBits emits <= min(d*|keys|, mBits) rows
    graft.ops.Sketches.bloomBits(
      small.select(probeKey(col(smallKey), smallT).as(smallKey)), smallKey, d, mBits)
      .collect().foreach { r =>
        val p = r.getLong(0)
        words((p >>> 6).toInt) |= (1L << (p & 63))
      }
    // One fused primitive UDF per probe row: md5 once, both
    // Kirsch-Mitzenmacher halves straight from the digest bytes (bit-equal
    // to conv(substring(md5hex, 1, 15|16, 14), 16, 10) — the
    // [[graft.ops.TextAnalysis.fingerprintPortable]] rendering convention),
    // d bit tests against the closure-held bitmap. The expression form
    // (array of salted-md5 positions + forall getbit) measured 1.3-1.8s at
    // sf0.1: forall is CodegenFallback, and staging the halves as columns
    // doesn't survive Catalyst's project-collapse into the filter — the
    // hash replays per element either way. This UDF is ~0.2s on the same
    // input, the documented measured-ladder exception to functions-first.
    val mLong = mBits.toLong
    val bloomPass = udf((k: String) => {
      if (k == null) false
      else {
        val md = Dataflow.bloomMd.get()
        md.reset()
        val dg = md.digest(k.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // h1 = hex chars 1-15 (60 bits), h2 = chars 16-29 (56 bits)
        var h1 = 0L
        var j = 0
        while (j < 7) { h1 = (h1 << 8) | (dg(j) & 0xffL); j += 1 }
        h1 = (h1 << 4) | ((dg(7) & 0xf0L) >> 4)
        var h2 = dg(7) & 0x0fL
        j = 8
        while (j < 14) { h2 = (h2 << 8) | (dg(j) & 0xffL); j += 1 }
        h2 = (h2 << 4) | ((dg(14) & 0xf0L) >> 4)
        var i = 0
        var ok = true
        while (ok && i < d) {
          val p = java.lang.Math.floorMod(h1 + i * h2, mLong)
          ok = (words((p >>> 6).toInt) & (1L << (p & 63))) != 0L
          i += 1
        }
        ok
      }
    })
    big.filter(col(bigKey).isNotNull &&
        bloomPass(probeKey(col(bigKey), bigT).cast("string")))
      .join(small.hint("shuffle_hash"), big(bigKey) === small(smallKey))
  }

  /** Bucketed co-located join — THE layout for fact tables that are
    * joined on the same key again and again at 100 TB: both sides are
    * written once as bucketed + per-bucket-sorted parquet tables
    * (external, under `dir`), re-read through the session catalog, and
    * merge-joined with ZERO exchange and ZERO per-query sort — the
    * bucketed scans already report HashPartitioning(nBuckets) on the
    * join key and sorted-within-bucket output, so Catalyst's
    * EnsureRequirements inserts nothing. The bucketing write is the
    * one-time cost; every subsequent co-located join (and bucket-key
    * aggregation) of the stored tables is shuffle-free, which is why
    * warehouses bucket their biggest join keys. The `merge` hint keeps
    * the demonstration honest when one side is broadcast-small.
    *
    * Both sides must use the SAME bucket count: equal HashPartitioning
    * is what lets the join zip bucket i against bucket i. */
  def bucketedJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, nBuckets: Int,
      dir: String, tablePrefix: String): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val s = left.sparkSession
    def store(df: DataFrame, key: String, name: String): DataFrame = {
      df.write.mode("overwrite").format("parquet")
        .bucketBy(nBuckets, key).sortBy(key)
        .option("path", s"$dir/$name").saveAsTable(name)
      s.table(name)
    }
    val l = store(left, leftKey, s"${tablePrefix}_l")
    val r = store(right, rightKey, s"${tablePrefix}_r")
    // frame-qualified keys: col(...) would be AMBIGUOUS_REFERENCE whenever
    // both sides name their key identically (the common shared-key case)
    l.hint("merge").join(r, l(leftKey) === r(rightKey))
  }
}
