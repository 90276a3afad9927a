package graft.spark

import graft.core.NoiseSource
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** LOCAL differential privacy — the trust model the central engine
  * ([[DPEngine]]) cannot express: each privacy unit RANDOMIZES ITS OWN
  * report before anything aggregates, so the collector never holds true
  * values at all (the telemetry/federated shape; Warner's randomized
  * response lineage, deployed as RAPPOR / Apple's CMS / Chrome's
  * telemetry). The engine-side job is exact bit aggregation + the
  * unbiased debiasing estimate — both pure post-processing of the
  * already-private reports.
  *
  * [[ldpFrequency]] implements symmetric UNARY ENCODING (basic one-hot
  * RAPPOR): a PUBLIC domain of k values, each unit's value one-hot
  * encodes to k bits, and every bit independently reports truthfully
  * with probability p = e^(eps/2) / (e^(eps/2) + 1) and flips otherwise
  * (equivalently: a false bit reports 1 with q = 1 - p). Two one-hot
  * vectors differ in exactly 2 bits, each bit's report is
  * (eps/2)-LDP, so the whole report is eps-LDP by composition. The
  * frequency estimate debiases the observed ones-count:
  * est_j = (c_j - n q) / (p - q) — unbiased for the true count.
  *
  * Contracts (the engine's conventions): the domain is PUBLIC and
  * closed — a value outside it fails loud (silently dropping or
  * bucketing it would misstate n in the debiasing); NULL values fail
  * loud; each unit contributes exactly ONE report (the L0 = 1 bound —
  * the deterministic lowest-value row per unit; route multi-report
  * designs through explicit budget splits). Zero noise
  * ([[graft.core.NoiseSource.Zero]]: uniform() = 0.5 never clears a
  * sub-0.5 flip probability, and p > 0.5 > q for every eps > 0) reports
  * exact one-hot bits, so the released frame is a deterministic
  * function of exact counts — the oracle replays the whole estimator.
  *
  * Scale shape: one window rank per unit (the cap), one map-only
  * flip-and-explode (k small, the report is the unit's k-bit row), one
  * map-side-combined aggregation to (k) rows. Nothing data-shaped
  * collects or broadcasts. */
object LocalDP {

  def ldpFrequency(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      domain: Seq[String],
      epsilon: Double,
      noise: graft.core.NoiseSource
  ): DataFrame = {
    require(domain.nonEmpty, "ldpFrequency: empty domain")
    require(domain.distinct.size == domain.size,
      s"ldpFrequency: duplicate domain values in $domain")
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    val k = domain.size
    val expHalf = math.exp(epsilon / 2.0)
    val p = expHalf / (expHalf + 1.0)
    val q = 1.0 / (expHalf + 1.0)
    val domainArr = domain.toArray
    val checked = when(valueCol.isNull, raise_error(lit(
        "ldpFrequency: NULL value for a privacy unit — nulls have no " +
          "one-hot encoding; filter or impute upstream")).cast("string"))
      .otherwise(valueCol.cast("string"))
    // one report per unit: the deterministic lowest value (L0 = 1) — a
    // per-unit MIN, so it aggregates map-side (r19 optimization: the
    // row_number window shape sorted every row for the same result)
    val perUnit = df
      .select(col(pidCol).as("__pid"), checked.as("__v"))
      .groupBy(col("__pid")).agg(min(col("__v")).as("__v"))
    // the LOCAL randomizer: one-hot encode + per-bit flip. Marked
    // nondeterministic so Catalyst never collapses or re-orders draws.
    // RETRY COMPOSITION (differs from the central engine): the draw runs
    // in an executor task, so a Spark task retry or speculative duplicate
    // RE-RANDOMIZES that unit's report — under the LOCAL trust model each
    // execution is a separate eps-LDP release of the same unit, composing
    // to m*eps for a unit whose task ran m times. (Centrally, noise is
    // drawn once driver-side, so retries cost nothing there.) Secure
    // deployments should disable speculative execution
    // (spark.speculation=false, the default) and account retries, or
    // randomize client-side before ingest so the engine only aggregates.
    val flip = udf((v: String) => {
      val idx = domainArr.indexOf(v)
      if (idx < 0) throw new IllegalArgumentException(
        s"ldpFrequency: value '$v' outside the public domain — the " +
          "domain is closed (an unlisted value would silently misstate " +
          "n in the debiasing); extend the domain or filter upstream")
      val bits = new Array[Int](domainArr.length)
      var j = 0
      while (j < domainArr.length) {
        val b = if (j == idx) 1 else 0
        val flipProb = if (b == 1) 1.0 - p else q
        bits(j) = if (noise.uniform() < flipProb) 1 - b else b
        j += 1
      }
      bits
    }).asNondeterministic()
    perUnit
      .select(posexplode(flip(col("__v"))).as(Seq("__j", "__bit")))
      .groupBy(col("__j"))
      .agg(count(lit(1)).as("n_reports"),
        sum(col("__bit")).as("reported_ones"))
      .select(
        element_at(typedLit(domain), col("__j").cast("int") + 1).as("value"),
        col("n_reports"), col("reported_ones"),
        round((col("reported_ones") - col("n_reports") * lit(q)) /
          lit(p - q), 9).as("est_count"))
  }


  /** LOCAL-DP frequency over LARGE domains — OPTIMAL LOCAL HASHING
    * (Wang-Blocki-Li-Jha, USENIX Security 2017): where [[ldpFrequency]]'s
    * unary encoding sends k bits per unit (unusable at token/URL-scale
    * domains), OLH sends ONE bucket in [0, g) with g = floor(e^eps) + 1
    * — the report size is O(1) in the domain size. Each unit hashes its
    * value with a PUBLIC per-unit hash (seed = md5(pid) mod `seedSpace`
    * — the hash choice is public randomness, independent of the value,
    * so it carries no privacy budget and may be deterministic; the md5
    * derivation, NOT pid arithmetic, is the engine's portable
    * public-randomness convention shared by every OLH mechanism here:
    * pid % seedSpace correlates with any pid-derived value structure,
    * concentrating a value's holders on correlated seeds so the fixed
    * parameter table's deterministic collisions bias cross-value
    * estimates — exactly the hazard the heavy-hitter walk measured) and
    * randomizes the bucket: truthful with p = e^eps / (e^eps + g - 1),
    * else uniform over the other g - 1 buckets — eps-LDP by direct
    * likelihood ratio (worst-case output probability ratio
    * p / ((1-p)/(g-1)) = e^eps).
    *
    * Estimation is support counting, debiased: C(v) = #reports whose
    * bucket equals H(seed, v); under a pairwise-uniform hash a non-true
    * value is supported with probability exactly 1/g, so
    * est(v) = (C(v) - n/g) / (p - 1/g) is unbiased. SCALE SHAPE (the
    * reason this exists): reports aggregate FIRST to <= seedSpace * g
    * (seed, bucket) count cells; the candidate grid is domain x
    * OBSERVED seeds (k x <= seedSpace rows, data-size-independent) with
    * the hash computed as a codegen'd integer expression; the cells
    * broadcast-join onto the grid and one aggregation lands k rows.
    * Nothing is ever n x k, nothing data-shaped collects.
    *
    * The hash family is Carter-Wegman universal: per seed s the pair
    * (A_s, B_s) from [[olhParams]] (a FIXED pseudorandom parameter
    * table — public randomness, data-independent, regenerated
    * identically everywhere) gives H(s, i) = ((A_s * i + B_s) mod P)
    * mod g — cross-value collision probability 1/g + O(1/P) per seed
    * pair, which is exactly what the 1/g debias term assumes. (A
    * seed-to-params map built from modular-affine mixing is NOT enough:
    * affine maps keep the collision indicator near-constant across
    * seeds for structured value pairs — measured 0.21 worst-pair
    * deviation vs the 0.05 sampling-noise bound this table achieves.)
    *
    * Contracts (the [[ldpFrequency]] conventions): closed PUBLIC domain,
    * out-of-domain and NULL values fail loud, one report per unit (the
    * deterministic lowest value), pid must cast to BIGINT (the seed is
    * replayed in SQL), and a release with no reports fails loud. Zero
    * noise: uniform() = 0.5 < p whenever p > 1/2 (any eps with
    * fractional e^eps, e.g. eps = 1 => p = e/(e+2) = 0.576), so every
    * unit reports its TRUE bucket and the whole release — hash, supports
    * (true hits PLUS deterministic cross-value hash collisions),
    * debiasing — replays as a deterministic SQL derivation over the
    * literal parameter table. The estimator's statistical behavior is
    * spec-pinned under the real randomizer. Retry composition caveat:
    * same as [[ldpFrequency]].
    *
    * Output: (value, n_reports, support, est_count) — one row per
    * domain value. */
  def ldpFrequencyOLH(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      domain: Seq[String],
      epsilon: Double,
      noise: NoiseSource,
      seedSpace: Int = 1024
  ): DataFrame = {
    val (cal, dom) = (Olh(epsilon, seedSpace), Domain("ldpFrequencyOLH", domain))
    frequencyEstimate(dom, cal, frequencyCells(dom, cal, df, pidCol, valueCol, noise))
  }

  /** GROUPED LDP frequency — [[ldpFrequencyOLH]] per PUBLIC metadata key
    * (r17): the deployed-telemetry slice question ("value frequencies
    * per platform / per country") where the grouping key is COLLECTOR-
    * VISIBLE METADATA (platform, app version, geo of the connection) —
    * NOT a private attribute: the report is (key, bucket), so the key
    * rides outside the randomizer and carries no DP protection; a
    * private grouping attribute must instead be folded INTO the value
    * (product domain) or released via [[ldpHeavyHitters]]. Fail-loud on
    * NULL keys. Each unit reports ONCE — its deterministic lowest
    * (key, value) pair (the L0 = 1 bound), so the whole release is
    * eps-LDP regardless of how many keys a unit's rows span.
    *
    * Estimation is per-key OLH: cells collapse to (key, seed, bucket)
    * counts (<= keys * seedSpace * g — keys are LOW-CARDINALITY public
    * groups by contract); the grid is keys x domain x observed seeds
    * (data-size-independent); per-key n debiases each key's supports
    * independently. Zero noise: deterministic, the whole derivation
    * replays in SQL (the gate anchor). Output: (key, value, n_reports,
    * support, est_count) — one row per (observed key, domain value). */
  def ldpFrequencyOLHByKey(
      df: DataFrame,
      pidCol: String,
      keyCol: Column,
      valueCol: Column,
      domain: Seq[String],
      epsilon: Double,
      noise: NoiseSource,
      seedSpace: Int = 1024
  ): DataFrame = {
    val (cal, dom) = (Olh(epsilon, seedSpace), Domain("ldpFrequencyOLHByKey", domain))
    val units = olhUnits(dom.what, df, pidCol,
      Seq("__k" -> keyGuard(dom.what, keyCol), "__v" -> dom.guard(valueCol)), 1, cal)
    supportEstimate(dom.what, cal,
        olhCells(units, Seq("__k"), dom.index(col("__v")), cal, noise), Seq("__k"),
        dom.frame(df.sparkSession), Seq("value"))
      .select(col("__k").as("key"), col("value"), col("n_reports"), col("support"),
        col("est_count"))
  }

  /** One micro-batch step of STREAMING OLH frequency — the LDP family's
    * ingest fold: the (seed, bucket) -> count CELLS are plain additive
    * state (<= seedSpace * g rows — never data-shaped), so a stream
    * folds by summing each batch's cells into the store, and
    * [[olhEstimate]] reads the running estimate at ANY point for free.
    * Zero noise + the one-batch-per-unit contract => the fold over any
    * unit-partitioned batch split equals the one-shot
    * [[ldpFrequencyOLH]] cells exactly (spec-pinned).
    *
    * BOUNDING CONTRACT (the [[graft.spark.RangeTree.rangeTreeIngestStep]]
    * convention): the one-report-per-unit rule dedupes WITHIN a batch —
    * a unit whose rows straddle m batches reports m times and its
    * epsilon composes to m*eps; route each unit's rows through one
    * batch (partition the ingest by unit). Callers checkpoint the
    * returned store between steps. */
  def olhIngestStep(
      batch: DataFrame,
      store: Option[DataFrame],
      pidCol: String,
      valueCol: Column,
      domain: Seq[String],
      epsilon: Double,
      noise: NoiseSource,
      seedSpace: Int = 1024
  ): DataFrame = {
    val (cal, dom) = (Olh(epsilon, seedSpace), Domain("olhIngestStep", domain))
    val cells = frequencyCells(dom, cal, batch, pidCol, valueCol, noise)
    store.fold(cells)(st => st.unionByName(cells)
      .groupBy(col("__seed"), col("__y")).agg(sum(col("__c")).as("__c")))
  }

  /** The debiased frequency readout over an OLH cells frame (an
    * [[olhIngestStep]] store): support counting against the candidate
    * grid, (C - n/g)/(p - 1/g) debias. Pure post-processing; a store
    * that is not already stored rows is pinned once, and an empty store
    * fails loud. Output: (value, n_reports, support, est_count). */
  def olhEstimate(
      pinned: DataFrame,
      domain: Seq[String],
      epsilon: Double,
      seedSpace: Int = 1024
  ): DataFrame =
    frequencyEstimate(Domain("olhEstimate", domain), Olh(epsilon, seedSpace), pinned)

  /** The (seed, bucket) cells of [[ldpFrequencyOLH]] and its ingest step. */
  private def frequencyCells(dom: Domain, cal: Olh, df: DataFrame, pidCol: String,
      valueCol: Column, noise: NoiseSource): DataFrame =
    olhCells(olhUnits(dom.what, df, pidCol, Seq("__v" -> dom.guard(valueCol)), 1, cal),
      Nil, dom.index(col("__v")), cal, noise)

  /** The frequency readout over (seed, bucket) cells. */
  private def frequencyEstimate(dom: Domain, cal: Olh, cells: DataFrame): DataFrame =
    supportEstimate(dom.what, cal, cells, Nil, dom.frame(cells.sparkSession), Seq("value"))
      .select("value", "n_reports", "support", "est_count")

  /** LOCAL-DP HEAVY HITTERS — prefix-extension discovery (the PEM shape,
    * Wang-Li-Jha "Locally Differentially Private Heavy Hitter
    * Identification", and the deployed Apple/Google telemetry pattern):
    * the question a frequency oracle cannot answer — WHAT are the
    * frequent values of an OPEN domain (URLs, tokens, error strings) —
    * answered by walking a prefix tree: users split into `rounds`
    * disjoint groups; group r's units report the OLH bucket of their
    * value's PREFIX of length L*(r+1)/rounds, and the aggregator
    * estimates only the candidates formed by extending the previous
    * round's top-k survivors one step — so each level's candidate set
    * stays k * |alphabet|^step instead of |alphabet|^L. Each unit
    * reports ONCE (its own group's round), so the whole discovery is
    * eps-LDP; group sizes shrink 1/rounds, the estimator-variance price
    * of the tree walk.
    *
    * Values are fixed-length lowercase-hex strings (`hexLen` chars,
    * fail-loud otherwise); the OLH index of a prefix is its numeric
    * value, so reporting needs NO closed candidate list (hash the
    * prefix, not an index into a domain) — the open-domain property.
    * Same public randomness as [[ldpFrequencyOLH]]: with h64 = md5(pid)'s
    * leading 60 bits, group = h64 mod rounds, seed = (h64 / rounds) mod
    * seedSpace, per-seed (A, B) from [[olhParams]].
    *
    * Zero noise: every report is the true bucket, every per-round
    * estimate (true hits + deterministic hash collisions, debiased) is
    * a deterministic function of exact counts, and the top-k pruning
    * breaks ties (est desc, candidate asc) — the WHOLE multi-round
    * derivation replays in SQL (the gate anchor). Retry-composition
    * caveat as [[ldpFrequency]].
    *
    * Output: the final round's top-k — (value, est_count, support,
    * n_reports, rk). Scale shape per round: reports collapse to
    * <= seedSpace * g cells; candidates (<= k * 16^step rows) cross the
    * observed seeds with the hash as a codegen'd expression; cells
    * broadcast onto the grid — nothing data-shaped collects, and the
    * only driver loop is the `rounds`-step walk (each step one bounded
    * Spark job chain, the IVF-training convention). */
  def ldpHeavyHitters(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      hexLen: Int,
      epsilon: Double,
      noise: NoiseSource,
      k: Int = 8,
      rounds: Int = 2,
      seedSpace: Int = 1024
  ): DataFrame = heavyHitters("ldpHeavyHitters", df, pidCol, valueCol, hexLen,
    epsilon, noise, k, rounds, seedSpace)

  /** [[ldpHeavyHitters]] with its errors naming `what`. */
  private def heavyHitters(what: String, df: DataFrame, pidCol: String,
      valueCol: Column, hexLen: Int, epsilon: Double, noise: NoiseSource, k: Int,
      rounds: Int, seedSpace: Int): DataFrame = {
    // 10, not 15: olhHash multiplies A (< P ~ 1e6) by the prefix's
    // numeric value, so the product stays under 2^63 only while the
    // prefix is <= 16^10 - 1 ~ 1.1e12 (1e6 * 1.1e12 ~ 1.1e18 < 9.2e18);
    // at 11+ hex chars the grid expression overflows (ANSI
    // ARITHMETIC_OVERFLOW) and the UDF silently wraps to out-of-range
    // buckets — which would break both the estimator and the eps-LDP
    // likelihood-ratio argument
    require(hexLen >= 1 && hexLen <= 10,
      s"hexLen must be in [1, 10] (A * prefix must stay under 2^63 in " +
        s"the public hash — hash longer values to <= 10 hex chars), got $hexLen")
    require(rounds >= 1 && hexLen % rounds == 0,
      s"rounds ($rounds) must divide hexLen ($hexLen) — equal prefix steps")
    require(k >= 1, s"k must be >= 1, got $k")
    val cal = Olh(epsilon, seedSpace)
    val step = hexLen / rounds
    val v = nonNull(what, valueCol, "string")
    val hex = when(!v.rlike(s"^[0-9a-f]{$hexLen}$$"), raise_error(lit(
        s"$what: value is not a $hexLen-char lowercase-hex string — encode " +
          "the open domain to fixed-length hex upstream (hash or pad)"))
        .cast("string"))
      .otherwise(v)
    // group and seed from the MD5 of the pid, NOT pid arithmetic: pid %
    // rounds correlates with any pid-linear value structure — measured: a
    // fixture deriving values from user_id % 4 put each heavy value in
    // ONLY ONE parity group, so the round estimating its prefix never saw
    // its holders and discovery collapsed
    val units = olhUnits(what, df, pidCol, Seq("__v" -> hex), rounds, cal)
      .localCheckpoint(false) // every round reads its group slice
    val asIdx = (c: Column) => conv(c, 16, 10).cast("bigint")
    val hexDigits = df.sparkSession.range(0, 16).select(
      lower(lpad(expr("hex(id)"), 1, "0")).as("__d"))
    def extend(prefixes: DataFrame, steps: Int): DataFrame =
      (0 until steps).foldLeft(prefixes)((acc, _) => acc.crossJoin(hexDigits)
        .select(concat(col("value"), col("__d")).as("value")))
    // level-1 candidates: ALL step-length prefixes (16^step rows, public)
    var cands = extend(hexDigits.select(col("__d").as("value")), step - 1)
    var out: DataFrame = null
    for (r <- 0 until rounds) {
      val cells = olhCells(units.filter(col("__grp") === r), Nil,
        asIdx(substring(col("__v"), 1, step * (r + 1))), cal, noise)
      val top = supportEstimate(what, cal, cells, Nil,
          cands.withColumn("__idx", asIdx(col("value"))), Seq("value"))
        .select("value", "n_reports", "support", "est_count")
        .withColumn("rk", row_number().over(Window
          .orderBy(col("est_count").desc, col("value").asc)).cast("long"))
        .filter(col("rk") <= k)
        .localCheckpoint(false) // the next round extends it; the last returns it
      if (r < rounds - 1) cands = extend(top.select(col("value")), step)
      else out = top
    }
    out.select("value", "est_count", "support", "n_reports", "rk")
  }

  /** LOCAL-DP RANGE TREE — the hierarchical frequency oracle (the
    * Cormode-Kulkarni-Srivastava "Answering Range Queries Under Local
    * Differential Privacy" shape, VLDB 2019): range/CDF queries under
    * the LOCAL trust model, where the central
    * [[graft.spark.RangeTree.dpRangeCountTree]] cannot operate (the
    * collector never holds true values). Units md5-split into levels+1
    * groups, one per dyadic level; group l's units OLH-report their
    * value's NODE INDEX at level l (bin >> l — a domain of bins >> l
    * nodes, one bucket per unit, eps-LDP total since each unit reports
    * once). The aggregator estimates every node of the full dyadic
    * universe from its level's group (debiased support counting, scaled
    * by nTotal / n_level — the deterministic-slice population scaling)
    * and the released frame IS a tree ((__lvl, __idx, dp_count),
    * 2*bins-1 rows), so the CENTRAL readout machinery consumes it
    * unchanged as pure post-processing:
    * [[graft.spark.RangeTree.cdfFromTree]] for the CDF,
    * [[graft.spark.RangeTree.rangeQueries]] for ranges — the bridge
    * that closes the tree family's central/local asymmetry.
    *
    * Error shape (the CKS trade): each level's estimator carries OLH
    * variance over n/(levels+1) units, and a range reads <= 2*levels
    * cover nodes — O(log^1.5 bins / eps * sqrt(n)) per range vs central
    * DP's O(log^1.5 bins / eps); LDP error grows with sqrt(n), the
    * model's price. Values CLAMP into [lo, hi) (the tree-family
    * convention); NULL and non-numeric-pid fail loud. Zero noise:
    * truthful node reports, so every estimate (true hits + hash
    * collisions, debiased, scaled) is a deterministic function of exact
    * counts and the whole tree + CDF replays in SQL (the gate anchor).
    * A level with NO reporting units fails loud (n too small to field
    * levels+1 groups — collect more reports or coarsen bins).
    *
    * Scale shape: reports collapse FIRST to <= (levels+1) * seedSpace *
    * g cells (broadcast-sized); the node grid is GENERATED
    * ((2*bins-1) x observed per-level seeds, data-size-independent);
    * one aggregation lands the 2*bins-1 released rows. Nothing
    * data-shaped collects. */
  def ldpRangeTree(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      lo: Double,
      hi: Double,
      bins: Int,
      epsilon: Double,
      noise: NoiseSource,
      seedSpace: Int = 1024
  ): DataFrame = {
    val cal = Olh(epsilon, seedSpace)
    treeEstimate("ldpRangeTree", cal,
      treeCells("ldpRangeTree", df, pidCol, None, valueCol, lo, hi, bins, cal, noise),
      None, bins)
  }

  /** One micro-batch step of the STREAMING LDP range tree (r18 — the
    * [[olhIngestStep]] shape for the hierarchical oracle): the tree's
    * report cells are plain additive state, so a stream folds by
    * summing each batch's cells into the store and [[ldpTreeEstimate]]
    * releases the running tree at ANY point as free post-processing
    * (which the central readouts then consume — continuous per-fleet
    * CDF telemetry). Same BOUNDING CONTRACT as [[olhIngestStep]]: the
    * one-report-per-unit rule dedupes WITHIN a batch — route each
    * unit's rows through ONE batch or epsilon composes per batch.
    * Callers checkpoint the returned store between steps. Epsilon,
    * bins and seedSpace must stay fixed across a stream (cells are
    * calibration-shaped: g buckets, levels+1 groups) — ENFORCED: the
    * store carries __eps/__bins/__sspace tags and both the fold and
    * [[ldpTreeEstimate]] fail loud on a mismatch. */
  def ldpTreeIngestStep(
      batch: DataFrame,
      store: Option[DataFrame],
      pidCol: String,
      valueCol: Column,
      lo: Double,
      hi: Double,
      bins: Int,
      epsilon: Double,
      noise: NoiseSource,
      seedSpace: Int = 1024
  ): DataFrame = {
    val what = "ldpTreeIngestStep"
    val cal = Olh(epsilon, seedSpace)
    val cells = treeCells(what, batch, pidCol, None, valueCol, lo, hi, bins, cal, noise)
      .withColumn("__eps", lit(epsilon))
      .withColumn("__bins", lit(bins.toLong))
      .withColumn("__sspace", lit(seedSpace.toLong))
    store.fold(cells) { st =>
      requireTreeCalibration(st, what, epsilon, bins, seedSpace)
      st.unionByName(cells)
        .groupBy(Seq("__lvl", "__seed", "__y", "__eps", "__bins", "__sspace").map(col): _*)
        .agg(sum(col("__c")).as("__c"))
    }
  }

  /** The debiased whole-tree readout over an [[ldpTreeIngestStep]]
    * store: estimates every node of the dyadic universe and releases
    * the (__lvl, __idx, dp_count) tree the central readouts consume.
    * Pure post-processing — calling it never spends budget. The debias
    * constants must be the ones the reports were drawn with, so a store
    * tagged with another calibration (or untagged) fails loud, as does
    * an empty one. */
  def ldpTreeEstimate(
      cells: DataFrame,
      bins: Int,
      epsilon: Double,
      seedSpace: Int = 1024
  ): DataFrame = {
    val cal = Olh(epsilon, seedSpace)
    treeLevels(bins)
    requireTreeCalibration(cells, "ldpTreeEstimate", epsilon, bins, seedSpace)
    treeEstimate("ldpTreeEstimate", cal, cells, None, bins)
  }

  /** log2(bins) of a 1-D LDP tree: bins a power of two in [2, 4096]. */
  private def treeLevels(bins: Int): Int = {
    require(bins >= 2 && (bins & (bins - 1)) == 0 && bins <= 4096,
      s"bins must be a power of two in [2, 4096], got $bins")
    31 - Integer.numberOfLeadingZeros(bins)
  }

  /** The report stage of the 1-D trees: each unit's lowest (key, value)
    * clamped INTO [lo, hi) (the tree convention: the top edge lands in the
    * top bin), its md5 level __lvl and its node index bin >> __lvl.
    * Returns (__k?, __lvl, __seed, __y, __c) cells. */
  private def treeCells(what: String, df: DataFrame, pidCol: String,
      keyCol: Option[Column], valueCol: Column, lo: Double, hi: Double, bins: Int,
      cal: Olh, noise: NoiseSource): DataFrame = {
    val nLevels = treeLevels(bins) + 1
    require(lo < hi, s"empty domain [$lo, $hi)")
    val width = (hi - lo) / bins
    val keys = keyCol.map(k => "__k" -> keyGuard(what, k)).toSeq
    val value = least(greatest(nonNull(what, valueCol, "double"), lit(lo)),
      lit(hi - width / 2))
    val units = olhUnits(what, df, pidCol, keys :+ ("__val" -> value), nLevels, cal)
      .withColumnRenamed("__grp", "__lvl")
      .withColumn("__bin", floor((col("__val") - lit(lo)) / lit(width)).cast("long"))
    olhCells(units, keys.map(_._1) :+ "__lvl", expr("shiftright(__bin, __lvl)"), cal, noise)
  }

  /** The tree release over 1-D tree cells: the generated node universe
    * ((__lvl, __idx), 2*bins-1 nodes), each level's estimate scaled to
    * its population (all reports, or the key's). Returns
    * (__k?, __lvl, __idx, dp_count). */
  private def treeEstimate(what: String, cal: Olh, cells: DataFrame, key: Option[String],
      bins: Int): DataFrame = {
    val nLevels = treeLevels(bins) + 1
    val spark = cells.sparkSession
    val nodes = spark.range(0, nLevels.toLong).toDF("__lvl")
      .withColumn("__lvl", col("__lvl").cast("int"))
      .join(spark.range(0, bins.toLong).toDF("__idx"),
        col("__idx") < expr(s"shiftright(${bins.toLong}, __lvl)"))
    val keys = key.toSeq
    supportEstimate(what, cal, cells, keys :+ "__lvl", nodes, Seq("__idx"),
        Some(Scale(keys, nLevels, "dyadic levels")))
      .select((keys ++ Seq("__lvl", "__idx")).map(col) :+ col("est_count").as("dp_count"): _*)
  }

  /** Require a tree cells store's calibration tags (__eps, __bins,
    * __sspace) to match the caller's: a store is only additive with, and
    * only estimable under, the calibration it was drawn at (g buckets,
    * levels+1 groups, flip probability), so the fold and the readout fail
    * loud on a mismatch — and on an untagged store, which must be
    * rebuilt. One small aggregation over the calibration-bounded store. */
  private def requireTreeCalibration(cells: DataFrame, what: String,
      epsilon: Double, bins: Int, seedSpace: Int): Unit = {
    val tags = Seq[(String, Any)]("__eps" -> epsilon, "__bins" -> bins.toLong,
      "__sspace" -> seedSpace.toLong)
    require(tags.forall(t => cells.columns.contains(t._1)),
      s"$what: the cells store carries no calibration tags — it was " +
        "built by a pre-tagging version; rebuild the store (the tags are " +
        "what prevent folding across incompatible calibrations)")
    val aggs = tags.flatMap(t => Seq(min(col(t._1)), max(col(t._1))))
    val r = cells.agg(aggs.head, aggs.tail: _*).head()
    if (!r.isNullAt(0)) // empty store: nothing to contradict
      require(tags.indices.forall(i =>
          r.get(2 * i) == tags(i)._2 && r.get(2 * i + 1) == tags(i)._2),
        s"$what: the cells store was drawn at eps in [${r.get(0)}, " +
          s"${r.get(1)}], bins in [${r.get(2)}, ${r.get(3)}], seedSpace in " +
          s"[${r.get(4)}, ${r.get(5)}] but this call passes (eps = $epsilon, " +
          s"bins = $bins, seedSpace = $seedSpace) — calibration must stay " +
          "fixed across a stream; start a new store to recalibrate")
  }

  /** GROUPED LOCAL-DP RANGE TREE (r18) — [[ldpRangeTree]] per PUBLIC
    * collector-metadata key (the [[ldpFrequencyOLHByKey]] contract: the
    * key rides OUTSIDE the randomizer; a private grouping attribute
    * must fold into the value instead): per-key range/CDF/quantile
    * telemetry under the local trust model, e.g. a latency CDF per
    * platform. One report per unit — the deterministic lowest
    * (key, value) pair — so eps-LDP total across keys; each unit's
    * dyadic level and OLH seed derive from md5(pid) exactly as the
    * global tree's. The aggregator estimates every key's full node
    * universe from that key's level groups (debiased, scaled by
    * nKey / n(key, level) — each key's tree estimates its OWN cohort)
    * and the release is (key, __lvl, __idx, dp_count) — keys x
    * (2*bins-1) rows, which the central keyed readouts
    * ([[graft.spark.RangeTree.cdfFromTree]],
    * [[graft.spark.RangeTree.rangeQueries]] with keyCols = Seq(key))
    * consume unchanged.
    *
    * An OBSERVED key missing reporters at some level fails loud naming
    * the key (its tree would fabricate empty subtrees); NULL keys,
    * NULL values and non-castable pids fail loud. Zero noise: the
    * whole per-key derivation is deterministic and replays in SQL
    * (the gate anchor). Scale shape: cells <= keys * (levels+1) *
    * seedSpace * g, the grid is GENERATED per observed (key, level,
    * seed) — nothing data-shaped collects. */
  def ldpRangeTreeByKey(
      df: DataFrame,
      pidCol: String,
      keyCol: Column,
      valueCol: Column,
      lo: Double,
      hi: Double,
      bins: Int,
      epsilon: Double,
      noise: NoiseSource,
      seedSpace: Int = 1024
  ): DataFrame = {
    val what = "ldpRangeTreeByKey"
    val cal = Olh(epsilon, seedSpace)
    treeEstimate(what, cal,
        treeCells(what, df, pidCol, Some(keyCol), valueCol, lo, hi, bins, cal, noise),
        Some("__k"), bins)
      .withColumnRenamed("__k", "key")
  }

  /** LOCAL-DP 2-D RANGE TREE — the dyadic PRODUCT mechanism under the
    * LOCAL trust model (r18, closing the tree family's last
    * central/local asymmetry: the central tier has
    * [[graft.spark.RangeTree.dpRange2DTree]], the LDP tier stopped at
    * 1-D [[ldpRangeTree]]). The CKS group-split generalizes to LEVEL
    * PAIRS: units md5-split into (levelsX+1)*(levelsY+1) groups, one
    * per product level (lx, ly); group (lx, ly)'s units OLH-report
    * their value pair's PRODUCT-NODE index — the combined
    * (binX >> lx) * nodesY(ly) + (binY >> ly), a domain of
    * nodesX(lx)*nodesY(ly) values, one report per unit so eps-LDP
    * total. The aggregator estimates every product node from its
    * group (debiased support counting, scaled nTotal / n_group) and
    * the released frame IS the product tree
    * ((__lvx, __idxx, __lvy, __idxy, dp_count),
    * (2*binsX-1)*(2*binsY-1) rows) — so the CENTRAL 2-D readout
    * [[graft.spark.RangeTree.range2DQueries]] consumes it unchanged:
    * any axis-aligned box reads <= 2*levelsX * 2*levelsY cover nodes
    * as pure post-processing.
    *
    * Error shape: each group fields n/((levelsX+1)(levelsY+1)) units,
    * so per-node stddev ~ sqrt(n) * (log B)^1 / eps and a box reads
    * O(log^2 B) nodes — the LDP sqrt(n) price doubled up in 2-D,
    * exactly the CKS trade. Values CLAMP into their domains (the
    * tree-family convention); NULL values / non-castable pids fail
    * loud; a level-pair group with NO reporting units fails loud (n
    * too small to field the groups — coarsen bins or collect more).
    * Zero noise: truthful node reports, so every estimate is a
    * deterministic function of exact group counts + hash collisions
    * and the whole product tree replays in SQL (the gate anchor).
    *
    * Scale shape (the [[ldpRangeTree]] discipline): reports collapse
    * FIRST to <= nGroups * seedSpace * g cells; the product-node grid
    * is GENERATED ((2*binsX-1)*(2*binsY-1) x observed per-group seeds,
    * data-size-independent); one aggregation lands the released rows.
    * Nothing data-shaped collects. */
  def ldpRange2DTree(
      df: DataFrame,
      pidCol: String,
      xCol: Column,
      yCol: Column,
      loX: Double, hiX: Double, binsX: Int,
      loY: Double, hiY: Double, binsY: Int,
      epsilon: Double,
      noise: NoiseSource,
      seedSpace: Int = 1024
  ): DataFrame = {
    val what = "ldpRange2DTree"
    def ckBins(b: Int, n: String): Unit = require(
      b >= 2 && (b & (b - 1)) == 0 && b <= 256,
      s"$n must be a power of two in [2, 256] (the group count is " +
        s"(log2 binsX + 1)*(log2 binsY + 1) and every group needs " +
        s"reporting units), got $b")
    ckBins(binsX, "binsX"); ckBins(binsY, "binsY")
    require(loX < hiX, s"empty x domain [$loX, $hiX)")
    require(loY < hiY, s"empty y domain [$loY, $hiY)")
    val cal = Olh(epsilon, seedSpace)
    val nLvlX = 32 - Integer.numberOfLeadingZeros(binsX)
    val nLvlY = 32 - Integer.numberOfLeadingZeros(binsY)
    val nGroups = nLvlX * nLvlY
    def clamped(c: Column, lo: Double, hi: Double, bins: Int, axis: String) =
      least(greatest(nonNull(what, c, "double", s"$axis value"), lit(lo)),
        lit(hi - (hi - lo) / bins / 2))
    def bin(c: String, lo: Double, hi: Double, bins: Int) =
      floor((col(c) - lit(lo)) / lit((hi - lo) / bins)).cast("long")
    val units = olhUnits(what, df, pidCol, Seq(
        "__x" -> clamped(xCol, loX, hiX, binsX, "x"),
        "__y0" -> clamped(yCol, loY, hiY, binsY, "y")), nGroups, cal)
      .withColumn("__lvx", (col("__grp") % nLvlX).cast("int"))
      .withColumn("__lvy", (col("__grp") / nLvlX).cast("int"))
      .withColumn("__bx", bin("__x", loX, hiX, binsX))
      .withColumn("__by", bin("__y0", loY, hiY, binsY))
    // the product-node index inside group (lvx, lvy): row-major over
    // (ix, iy) with iy's stride = this group's y-node count
    val cells = olhCells(units, Seq("__lvx", "__lvy"),
      expr(s"shiftright(__bx, __lvx) * shiftright($binsY, __lvy) + shiftright(__by, __lvy)"),
      cal, noise)
    val spark = df.sparkSession
    def axis(lvl: String, n: Int) =
      spark.range(0, n.toLong).toDF(lvl).withColumn(lvl, col(lvl).cast("int"))
    val nodes = axis("__lvx", nLvlX).crossJoin(axis("__lvy", nLvlY))
      .join(spark.range(0, binsX.toLong).toDF("__idxx"),
        col("__idxx") < expr(s"shiftright(${binsX.toLong}, __lvx)"))
      .join(spark.range(0, binsY.toLong).toDF("__idxy"),
        col("__idxy") < expr(s"shiftright(${binsY.toLong}, __lvy)"))
      .withColumn("__idx", expr(s"__idxx * shiftright($binsY, __lvy) + __idxy"))
    supportEstimate(what, cal, cells, Seq("__lvx", "__lvy"), nodes,
        Seq("__idxx", "__idxy"), Some(Scale(Nil, nGroups, "level-pair groups")))
      .select(col("__lvx"), col("__idxx"), col("__lvy"), col("__idxy"),
        col("est_count").as("dp_count"))
  }

  /** LONGITUDINAL LDP frequency — PERMANENT randomized response (the
    * RAPPOR memoization, closing every LDP doc's retry-composition
    * caveat for REPEATED collections): a unit's noisy OLH report for a
    * value is drawn ONCE and MEMOIZED; every later collection where the
    * unit still holds that value REUSES the stored report verbatim.
    * Privacy: the adversary sees an identical output every time, so m
    * collections of an unchanged value cost ONE eps — not m*eps (the
    * naive fold); a unit that CHANGES value draws a fresh report and
    * spends a fresh eps (the longitudinal ledger is per (unit, value)).
    * In a real deployment the memo lives CLIENT-side (RAPPOR's design);
    * in this engine — which holds the raw data and plays the trusted
    * randomizer for the release boundary, like every [[LocalDP]]
    * operator — the memo is the persisted store frame.
    *
    * Store: (__pid, __v, __y, __g) — one row per (unit, value) ever
    * reported; the per-unit seed re-derives from md5(pid), so it is not
    * stored, but the BUCKET COUNT g IS: memoized reports are
    * calibration-specific, and a mid-stream epsilon change would
    * silently reuse wrong-g buckets — the step requires the store's g
    * to equal this step's (fail-loud; start a new memo to rebudget).
    * The closed-domain contract is enforced on every input row, so a
    * memoized value that left the domain fails as loudly as a fresh one.
    * The step pins the grown store internally (the release and the
    * returned store MUST read the same draws); callers checkpoint it
    * between steps (the [[olhIngestStep]] convention — parquet
    * round-trips make draws final across restarts, the
    * [[graft.streaming.StreamOps.saveContinualStore]] pattern).
    *
    * Returns (estimate, grownStore): the estimate is this collection's
    * [[olhEstimate]] over the units' memoized reports. Zero noise:
    * memoized reports equal truthful buckets, so EVERY collection's
    * estimate over unchanged values equals the one-shot
    * [[ldpFrequencyOLH]] release (the gate anchor); report REUSE is
    * spec-pinned with a draw-counting source (m collections, distinct
    * (unit, value) draws only). */
  def ldpLongitudinalStep(
      batch: DataFrame,
      store: Option[DataFrame],
      pidCol: String,
      valueCol: Column,
      domain: Seq[String],
      epsilon: Double,
      noise: NoiseSource,
      seedSpace: Int = 1024
  ): (DataFrame, DataFrame) = {
    val (cal, dom) = (Olh(epsilon, seedSpace), Domain("ldpLongitudinalStep", domain))
    val units = olhUnits(dom.what, batch, pidCol, Seq("__v" -> dom.guard(valueCol)), 1, cal)
    val report = cal.randomizer(noise)
    val grown = memoStep(dom.what, units, store,
      Seq("__v" -> StringType, "__y" -> LongType, "__g" -> LongType), cal.g,
      _.withColumn("__y", report(col("__seed"), dom.index(col("__v")))))
    val cells = units.join(grown, Seq("__pid", "__v"))
      .groupBy(col("__seed"), col("__y")).agg(count(lit(1)).as("__c"))
    (frequencyEstimate(dom, cal, cells), grown)
  }

  /** The fixed-length hex encoding [[ldpHeavyHitters]]' domain contract
    * asks for: the first `hexLen` chars of md5(value-as-string) —
    * lowercase hex by construction, length-uniform, and identical in
    * Spark SQL and DuckDB (`substr(md5(v), 1, hexLen)`), so the whole
    * e2e walk replays in the oracle. hexLen <= 10 keeps the OLH hash
    * overflow-safe (the [[ldpHeavyHitters]] require). Collision rate:
    * two distinct values share an encoding w.p. 16^-hexLen per pair —
    * at hexLen 8, ~2.3e-10; the reverse lookup surfaces ALL candidates
    * of a hot hash, so collisions widen a row set, never lose one. */
  def hexEncodeValue(value: Column, hexLen: Int): Column = {
    require(hexLen >= 1 && hexLen <= 10,
      s"hexLen must be in [1, 10] (the ldpHeavyHitters hash-overflow " +
        s"contract), got $hexLen")
    substring(md5(value.cast("string")), 1, hexLen)
  }

  /** END-TO-END open-domain heavy hitters (r17, closing the usability
    * loop): [[ldpHeavyHitters]] discovers frequent md5-prefix HASHES —
    * real deployments then need the VALUES. This operator runs the full
    * pipeline: encode each unit's value with [[hexEncodeValue]], walk
    * the prefix tree over the hashes, then REVERSE-LOOK-UP the
    * discovered hot hashes against a PUBLIC candidate table (known
    * URLs, a vocabulary, a product catalog — the aggregator's side
    * knowledge; joining against the private reports themselves would
    * leave the LDP trust model). The lookup is pure post-processing of
    * the DP release against public data — no extra budget. The <= k hot
    * hashes BROADCAST onto the candidates (one scan of the candidate
    * table, nothing data-shaped collects).
    *
    * Output: (value, hash, est_count, support, n_reports, rk) — one row
    * per (hot hash, matching candidate); an encoding collision widens a
    * hash's row set (both candidates surface — est_count is the HASH's
    * total), and a hot hash with NO candidate drops here (a noise-floor
    * artifact or an out-of-catalog value — read the raw
    * [[ldpHeavyHitters]] release to see them). Zero noise: the whole
    * derivation — encoding, both rounds, pruning, lookup — is
    * deterministic and replays in SQL (the gate anchor). */
  def ldpHeavyHittersE2e(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      candidates: DataFrame,
      candidateCol: String,
      hexLen: Int,
      epsilon: Double,
      noise: NoiseSource,
      k: Int = 8,
      rounds: Int = 2,
      seedSpace: Int = 1024
  ): DataFrame = {
    val encoded = df.select(col(pidCol).as(pidCol),
      hexEncodeValue(valueCol, hexLen).as("__hv"))
    val hot = heavyHitters("ldpHeavyHittersE2e", encoded, pidCol, col("__hv"),
        hexLen, epsilon, noise, k, rounds, seedSpace)
      .withColumnRenamed("value", "hash")
    val cand = candidates
      .select(col(candidateCol).cast("string").as("value")).distinct()
      .withColumn("hash", hexEncodeValue(col("value"), hexLen))
    cand.join(broadcast(hot), "hash")
      .select(col("value"), col("hash"), col("est_count"), col("support"),
        col("n_reports"), col("rk"))
  }

  /** Human-readable release report for [[ldpHeavyHitters]] — the explain
    * convention: the walk shape, per-round group sizes, the per-level
    * candidate cost, and the discovery floor (the OLH estimator stddev a
    * heavy value must clear in EVERY round it is alive). Pure string
    * math — no data access. */
  def explainHeavyHitters(hexLen: Int, epsilon: Double, nUnits: Long,
      k: Int = 8, rounds: Int = 2, seedSpace: Int = 1024): String = {
    require(hexLen >= 1 && rounds >= 1 && hexLen % rounds == 0,
      "rounds must divide hexLen")
    require(nUnits >= rounds, s"need >= $rounds units, got $nUnits")
    val cal = Olh(epsilon, seedSpace)
    val step = hexLen / rounds
    val nGrp = nUnits / rounds
    val std = math.sqrt(nGrp * cal.invG * (1.0 - cal.invG)) / (cal.p - cal.invG)
    val candPerLevel = k.toLong * (1L << (4 * step))
    s"""LocalDP heavy-hitter discovery (prefix extension over OLH)
       |  walk      : $rounds rounds x $step hex chars; md5-split groups of ~$nGrp units report ONE bucket each (eps = ${f"$epsilon%g"}-LDP total, open domain)
       |  candidates: level 1 = ${1L << (4 * step)} public prefixes, later levels = top-$k x 16^$step = $candPerLevel — never 16^$hexLen
       |  floor     : per-candidate estimator stddev ~ ${f"$std%g"} at g = ${cal.g} buckets; a heavy value must clear it EVERY round it is alive (small g — low eps — swamps discovery: at eps = 1, g = 3, the floor is ~7x worse)
       |""".stripMargin
  }

  // ---- the OLH core: every OLH mechanism above is a thin caller -------

  /** OLH calibration at (epsilon, seedSpace): g = floor(e^eps) + 1
    * buckets, keep probability p = e^eps / (e^eps + g - 1), the 1/g
    * support of a non-true value, and the public per-seed hash table. */
  private final case class Olh(epsilon: Double, seedSpace: Int) {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(seedSpace >= 2 && seedSpace <= 65536,
      s"seedSpace must be in [2, 65536], got $seedSpace")
    private val expEps = math.exp(epsilon)
    val g: Long = math.floor(expEps).toLong + 1L
    val p: Double = expEps / (expEps + g - 1)
    val invG: Double = 1.0 / g
    val params: IndexedSeq[(Long, Long)] = olhParams(seedSpace)

    /** The LOCAL randomizer of node `idx` under public seed `seed`: the
      * true bucket H(seed, idx) kept w.p. p (one uniform() draw), else
      * uniform over the OTHER g - 1 (a second draw). Nondeterministic so
      * Catalyst never collapses or re-orders draws; the retry caveat of
      * [[ldpFrequency]] applies. */
    def randomizer(noise: NoiseSource): UserDefinedFunction = {
      val (table, g, p, gi) = (params, this.g, this.p, this.g.toInt)
      udf((seed: Long, idx: Long) => {
        val (a, b) = table(seed.toInt)
        val h = olhHash(a, b, idx, g)
        if (noise.uniform() < p) h
        else (h + 1 + math.min((noise.uniform() * (gi - 1)).toInt, gi - 2)) % g
      }).asNondeterministic()
    }

    /** The literal hash table (__seed, __a, __b). */
    def paramsFrame(spark: SparkSession): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(params.indices.map(s =>
        Row(s.toLong, params(s)._1, params(s)._2)), 4),
      StructType(Seq("__seed", "__a", "__b").map(StructField(_, LongType, nullable = false))))
  }

  /** A closed PUBLIC domain: `guard` fails loud, naming `what`, on a
    * NULL or unlisted value of any input row (an unlisted value would
    * silently misstate n in the debiasing); `index` maps a guarded value
    * to its position by an O(1) lookup (a linear scan would be an O(n*k)
    * hot path at token-scale domains, the regime OLH exists for);
    * `frame` is the (__idx, value) node frame. */
  private final case class Domain(what: String, values: Seq[String]) {
    require(values.nonEmpty && values.distinct.size == values.size,
      s"$what: domain must be non-empty and duplicate-free")
    def guard(v: Column): Column = {
      val s = nonNull(what, v, "string")
      when(!s.isin(values: _*), raise_error(concat(lit(s"$what: value '"), s,
          lit("' outside the public domain — the domain is closed (an " +
            "unlisted value would misstate n in the debiasing); extend it " +
            "or filter upstream"))).cast("string"))
        .otherwise(s)
    }
    def index(v: Column): Column = {
      val at = values.zipWithIndex.map { case (x, i) => x -> i.toLong }.toMap
      udf((x: String) => at(x)).apply(v)
    }
    def frame(spark: SparkSession): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(
        values.zipWithIndex.map { case (x, i) => Row(i.toLong, x) }, 8),
      StructType(Seq(StructField("__idx", LongType, nullable = false),
        StructField("value", StringType, nullable = false))))
  }

  /** `v` cast to `as`, failing loud naming `what` when it is NULL. */
  private def nonNull(what: String, v: Column, as: String,
      label: String = "value"): Column =
    when(v.isNull, raise_error(lit(s"$what: NULL $label for a privacy unit " +
        "— filter or impute upstream")).cast(as))
      .otherwise(v.cast(as))

  /** A public grouping key, failing loud naming `what` when it is NULL. */
  private def keyGuard(what: String, k: Column): Column =
    when(k.isNull, raise_error(lit(s"$what: NULL group key — the key is " +
        "public collector metadata and every report must carry one; filter " +
        "or impute upstream")).cast("string"))
      .otherwise(k.cast("string"))

  /** The report stage's first half: ONE report per unit — the
    * deterministic lowest `values` tuple (a per-unit MIN, aggregated
    * map-side; the L0 = 1 bound) — keyed by the unit's BIGINT pid (a pid
    * that does not cast fails loud naming `what`) with its public
    * randomness: the md5 word h of the pid ([[md5Word]]), the report
    * group h mod `groups` and the hash seed (h div groups) mod seedSpace.
    * Returns (__pid, values..., __grp, __seed). */
  private def olhUnits(what: String, df: DataFrame, pidCol: String,
      values: Seq[(String, Column)], groups: Int, cal: Olh): DataFrame = {
    val names = values.map(_._1)
    // try_cast: a non-numeric pid flows to the shaped error instead of
    // ANSI's CAST_INVALID_INPUT mid-task
    val pid = when(col("__pidn").isNull, raise_error(lit(s"$what: pid does " +
        "not cast to BIGINT — the public hash seed derives from it; map " +
        "units to numeric ids upstream")).cast("long"))
      .otherwise(col("__pidn"))
    df.select(col(pidCol).try_cast("bigint").as("__pidn") +:
        values.map { case (n, c) => c.as(n) }: _*)
      .groupBy(col("__pidn")).agg(min(struct(names.map(col): _*)).as("__m"))
      .select(pid.as("__pid") +: names.map(n => col(s"__m.$n").as(n)): _*)
      .withColumn("__h64", expr("CAST(conv(substr(md5(CAST(__pid AS STRING)), " +
        "1, 15), 16, 10) AS BIGINT)"))
      .withColumn("__grp", pmod(col("__h64"), lit(groups.toLong)).cast("int"))
      .withColumn("__seed", pmod(expr(s"__h64 div $groups"), lit(cal.seedSpace.toLong)))
      .drop("__h64")
  }

  /** The report stage's second half: each unit's randomized bucket for
    * node `idx`, collapsed FIRST to (strata..., __seed, __y) -> __c count
    * cells — at most strata x seedSpace x g rows, so everything
    * downstream is data-size-independent. */
  private def olhCells(units: DataFrame, strata: Seq[String], idx: Column, cal: Olh,
      noise: NoiseSource): DataFrame =
    units.select(strata.map(col) ++ Seq(col("__seed"),
        cal.randomizer(noise)(col("__seed"), idx).as("__y")): _*)
      .groupBy((strata ++ Seq("__seed", "__y")).map(col): _*)
      .agg(count(lit(1)).as("__c"))

  /** The population scale of a stratified estimate: each stratum's
    * estimate scales by (reports of its `pop` stratum) / (its reports),
    * and every `pop` stratum must field all `groups` report groups (a
    * group with no reporters has no estimator) — `noun` names them. */
  private final case class Scale(pop: Seq[String], groups: Long, noun: String)

  /** The OLH estimator: crosses the caller's node frame (__idx, the
    * `keep` columns, and any strata the node universe depends on) with
    * the observed (strata..., __seed) pairs and their hash parameters,
    * counts each node's support — the reports whose bucket equals the
    * node's hash under their seed — and debiases (support - n/g)/(p - 1/g)
    * per stratum of n reports, times the population scale. Reads the
    * cells several times, so pins them once ([[RangeTree.materialized]]);
    * with no reports it fails loud naming `what`. Returns (strata...,
    * keep..., n_reports, support, est_count). */
  private def supportEstimate(what: String, cal: Olh, cells0: DataFrame,
      strata: Seq[String], nodes: DataFrame, keep: Seq[String],
      scale: Option[Scale] = None): DataFrame = {
    val cells = RangeTree.materialized(cells0)
    val nAgg = cells.groupBy(strata.map(col): _*).agg(sum(col("__c")).as("n_reports"))
    val counts = scale.fold(nAgg)(scaledCounts(what, nAgg, strata, _))
    val seeds = cells.select((strata :+ "__seed").map(col): _*).distinct()
      .join(cal.paramsFrame(cells.sparkSession), "__seed")
    // the hash as a codegen'd integer EXPRESSION — mirrors olhHash exactly
    // (same constants P and g, non-negative operands, every intermediate
    // < 2^63, so Spark % == SQL % == Scala %)
    // a LEFT join when no stratum shapes the nodes: with no reports the
    // nodes still reach the readout, whose NULL n_reports then fails loud
    val on = strata.filter(nodes.columns.contains)
    val grid = (if (on.isEmpty) nodes.join(broadcast(seeds), lit(true), "left")
        else nodes.join(broadcast(seeds), on))
      .withColumn("__h", ((col("__a") * col("__idx") + col("__b")) % lit(OlhPrime)) %
        lit(cal.g))
    val cellCols = strata ++ Seq("__seed", "__y")
    val hit = cellCols.map(c => col(if (c == "__y") "__h" else c) === col(s"__c$c"))
      .reduce(_ && _)
    val support = grid
      .join(broadcast(cells.select(cellCols.map(c => col(c).as(s"__c$c")) :+ col("__c"): _*)),
        hit, "left")
      .groupBy((strata ++ keep).map(col): _*)
      .agg(coalesce(sum(col("__c")), lit(0L)).as("support"))
    val n = col("n_reports")
    val est = (col("support") - n * lit(cal.invG)) / lit(cal.p - cal.invG)
    (if (strata.isEmpty) support.crossJoin(broadcast(counts))
     else support.join(broadcast(counts), strata))
      .withColumn("est_count", when(n.isNull, raise_error(lit(
          s"$what: no reporting units")).cast("double"))
        .otherwise(round(scale.fold(est)(_ => est * (col("__pop") / n)), 9)))
  }

  /** The per-stratum report counts of a population-scaled estimate,
    * collected (strata are bounded: keys x groups) and checked against
    * `s`: there are reports, and every population stratum fields all its
    * groups (failing keys are named). Returns them as a literal frame
    * (strata..., n_reports, __pop) — broadcast without another job. */
  private def scaledCounts(what: String, nAgg: DataFrame, strata: Seq[String],
      s: Scale): DataFrame = {
    val rows = RangeTree.boundedCollect(nAgg.filter(col("n_reports") > 0), what,
      rows = "report strata")
    require(rows.nonEmpty, s"$what: no reporting units")
    val popOf = (r: Row) => s.pop.map(c => r.get(strata.indexOf(c)))
    val byPop = rows.groupBy(popOf)
    val short = byPop.collect { case (k, rs) if rs.length < s.groups => k.mkString("/") }
    require(short.isEmpty,
      if (s.pop.isEmpty) s"$what: only ${rows.length} of ${s.groups} ${s.noun} " +
        "have reporting units — n too small to field the split; collect more " +
        "reports or coarsen bins"
      else s"$what: key(s) ${short.take(20).mkString(", ")} have reporting " +
        s"units at fewer than ${s.groups} ${s.noun} — their cohorts are too " +
        "small to field the level split; collect more reports, coarsen bins, " +
        "or merge keys")
    val pop = byPop.map { case (k, rs) => k -> rs.map(_.getLong(strata.size)).sum.toDouble }
    nAgg.sparkSession.createDataFrame(
      rows.map(r => Row.fromSeq(r.toSeq :+ pop(popOf(r)))).toSeq.asJava,
      nAgg.schema.add(StructField("__pop", DoubleType, nullable = false)))
  }

  /** The longitudinal memo step of the three ledger steps: each
    * (unit, value) draws its report ONCE and reuses it while the unit
    * holds the value. `units` carries (__pid, __v, ...); the store is
    * (__pid, `memo`...) — __v, the drawn columns, and last the tag that
    * records the calibration the reports were drawn at, which must equal
    * `tag` (fail loud: memoized reports are calibration-specific). `draw`
    * adds the drawn columns to the units without a memoized report.
    * Returns the grown store, pinned: the release and the returned store
    * must read the same draws (an unpinned union would re-draw per
    * consumer). */
  private def memoStep(what: String, units: DataFrame, store: Option[DataFrame],
      memo: Seq[(String, DataType)], tag: Any, draw: DataFrame => DataFrame): DataFrame = {
    val tagCol = memo.last._1
    store.foreach { s0 =>
      val r = s0.agg(min(col(tagCol)), max(col(tagCol))).head()
      if (!r.isNullAt(0))
        require(r.get(0) == tag && r.get(1) == tag,
          s"$what: the memo store was drawn at $tagCol in [${r.get(0)}, " +
            s"${r.get(1)}] but this step draws at $tagCol = $tag — epsilon " +
            "must stay fixed across a longitudinal stream (memoized reports " +
            "are calibration-specific); start a new memo to rebudget")
    }
    val schema = StructType((("__pid" -> LongType) +: memo).map { case (n, t) =>
      StructField(n, t, nullable = false) })
    val st = store.getOrElse(units.sparkSession.createDataFrame(
      java.util.Collections.emptyList[Row](), schema))
    val fresh = draw(units.join(st.drop(tagCol), Seq("__pid", "__v"), "left")
        .filter(col(memo(1)._1).isNull))
      .select(schema.fieldNames.init.map(col) :+ lit(tag).as(tagCol): _*)
    st.unionByName(fresh).localCheckpoint(false)
  }

  /** The Carter-Wegman modulus: a prime far above any domain index the
    * engine meets, small enough that A * idx never nears 2^63 (idx up to
    * ~9e12 is safe), so the hash replays with plain `%` anywhere. */
  private[graft] val OlhPrime = 999983L

  /** The PUBLIC per-seed hash parameters: (A_s in [1, P), B_s in [0, P))
    * for every seed, drawn from a FIXED seeded generator — public
    * randomness, data-independent, the same table everywhere
    * (java.util.Random's algorithm is specified exactly, so the engine
    * UDF, the candidate grid, the specs, and the oracle-SQL literal
    * VALUES all regenerate it identically). Uniform params are what
    * makes the family universal: collision probability 1/g + O(1/P) for
    * EVERY value pair — a derived/mixed seed map provably is not (see
    * [[ldpFrequencyOLH]]). */
  private[graft] def olhParams(seedSpace: Int): IndexedSeq[(Long, Long)] = {
    val r = new java.util.Random(986543L)
    (0 until seedSpace).map { _ =>
      val a = 1L + (r.nextDouble() * (OlhPrime - 1)).toLong
      val b = (r.nextDouble() * OlhPrime).toLong
      (a, b)
    }
  }

  /** The md5-derived 60-bit public-randomness word for a pid — the
    * portable convention every LDP mechanism derives its seed/group
    * from: the first 15 hex chars of md5(pid-as-decimal-string), parsed
    * base 16. Matches the engine's SQL form
    * `conv(substr(md5(CAST(pid AS STRING)), 1, 15), 16, 10)` and
    * DuckDB's `CONCAT('0x', substr(md5(...), 1, 15))` bit-exactly. */
  private[graft] def md5Word(pid: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(pid.toString.getBytes("UTF-8"))
    val hex = d.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** [[ldpFrequencyOLH]]'s public per-unit seed: md5Word(pid) mod
    * seedSpace. */
  private[graft] def olhSeedOf(pid: Long, seedSpace: Int): Long =
    java.lang.Math.floorMod(md5Word(pid), seedSpace.toLong)

  /** The PUBLIC OLH hash: H(s, i) = ((A_s * i + B_s) mod P) mod g with
    * (A_s, B_s) from [[olhParams]] — non-negative operands, every
    * intermediate far under 2^63, so the Scala, Column-expression and
    * oracle-SQL forms are the same integer function. */
  private[graft] def olhHash(a: Long, b: Long, idx: Long, g: Long): Long =
    ((a * idx + b) % OlhPrime) % g

  /** Human-readable release report for [[ldpFrequencyOLH]] — the explain
    * convention: encoding, g, the report probabilities, the debias
    * formula, and the per-value estimator stddev at n reports
    * (sqrt(n * (1/g) * (1 - 1/g)) / (p - 1/g) — Wang et al.'s
    * approximate variance 4 e^eps / (e^eps - 1)^2 per report at the
    * optimal g). Pure string math — no data access. */
  def explainFrequencyOLH(k: Long, epsilon: Double, nReports: Long,
      seedSpace: Int = 1024): String = {
    require(k >= 2, s"domain size must be >= 2, got $k")
    require(nReports >= 1, s"nReports must be >= 1, got $nReports")
    val cal = Olh(epsilon, seedSpace)
    import cal.{g, invG, p}
    val std = math.sqrt(nReports * invG * (1.0 - invG)) / (p - invG)
    s"""LocalDP frequency release (optimal local hashing)
       |  domain    : $k public values; ONE bucket in [0, $g) per unit (vs $k bits under unary encoding — the large-domain mechanism), public hash seed = md5(pid) mod $seedSpace
       |  randomizer: truthful bucket w.p. p = e^eps/(e^eps + g - 1) = ${f"$p%g"}, else uniform over the other ${g - 1} — likelihood ratio e^${f"$epsilon%g"}, so the report is ${f"$epsilon%g"}-LDP
       |  estimator : est(v) = (C(v) - n/g) / (p - 1/g), unbiased; n = $nReports reports, support q* = 1/g = ${f"$invG%g"}
       |  error     : per-value stddev ~ ${f"$std%g"} (O(1) in the domain size — the OLH trade: constant report size, hash-collision variance)
       |""".stripMargin
  }

  /** Human-readable release report for [[ldpFrequency]] — the engine's
    * explain convention for the LOCAL trust model: states the encoding,
    * the per-bit flip probabilities the randomizer uses, the debias
    * formula, and the estimator stddev at a given report count
    * (sqrt(n p (1 - p)) / (p - q) per value — the planning number: LDP
    * error grows with sqrt(n), so small cohorts cannot read small
    * frequencies). Pure string math — no data access. */
  def explainFrequency(k: Int, epsilon: Double, nReports: Long): String = {
    require(k >= 2, s"domain size must be >= 2, got $k")
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(nReports >= 1, s"nReports must be >= 1, got $nReports")
    val expHalf = math.exp(epsilon / 2.0)
    val p = expHalf / (expHalf + 1.0)
    val q = 1.0 / (expHalf + 1.0)
    val std = math.sqrt(nReports * p * (1.0 - p)) / (p - q)
    s"""LocalDP frequency release (one-hot unary encoding)
       |  domain    : $k public values, one k-bit report per unit (L0 = 1: the deterministic lowest value)
       |  randomizer: per-bit truthful w.p. p = e^(eps/2)/(e^(eps/2)+1) = ${f"$p%g"}, flipped w.p. q = ${f"$q%g"} — two one-hot vectors differ in 2 bits, so the report is ${f"$epsilon%g"}-LDP (the collector never holds true values)
       |  estimator : est_j = (c_j - n q) / (p - q), unbiased; n = $nReports reports
       |  error     : per-value stddev ~ ${f"$std%g"} (grows with sqrt(n) — the LDP cost; central DP's noise is O(1) in n)
       |""".stripMargin
  }

  /** LOCAL-DP variance — the plug-in moment estimator over TWO 1-bit
    * Duchi mechanisms (r17, completing the LDP moment family next to
    * [[ldpMean]]): each unit's clamped value reports one bit for v
    * (normalized over [lo, hi]) and one INDEPENDENT bit for v^2
    * (normalized over [lo^2, hi^2] — monotone since lo >= 0 is
    * required), each at eps/2, composing to eps-LDP per unit.
    * var = E[v^2] - E[v]^2 as the plug-in combination, clamped into
    * [0, (hi-lo)^2/4] (the population-variance range); the plug-in is
    * biased by the estimators' own variance (O(1/(n eps^2)) — the
    * standard trade, documented not hidden; the spec pins consistency
    * at large n). Zero noise: both bits are signs — deterministic, the
    * whole release replays in SQL (the gate anchor). One unit = one
    * (deterministic lowest clamped) value = two bits. Output: one row
    * (n_reports, est_mean, est_m2, est_variance). */
  def ldpVariance(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      lo: Double,
      hi: Double,
      epsilon: Double,
      noise: NoiseSource
  ): DataFrame = duchiRelease(Duchi("ldpVariance", lo, hi, epsilon, 2), df, pidCol,
    valueCol, noise)

  /** AMPLIFICATION BY SHUFFLING — the accounting bridge from this file's
    * LOCAL trust model to the central accountant: when n users each run
    * an eps0-LDP randomizer and an intermediary SHUFFLES the reports
    * before the analyst sees them (discarding which report came from
    * whom), the shuffled collection is (eps, delta)-DP centrally with
    * eps FAR below eps0 — each report hides among the n-1 others. The
    * closed form is Feldman-McMillan-Talwar's clone-reduction bound
    * ("Hiding Among the Clones", FOCS 2021, arXiv:2012.12803 Thm 3.1):
    *
    *   eps = ln(1 + (e^eps0 - 1) * (4 * sqrt(2 ln(4/delta) /
    *           ((e^eps0 + 1) n)) + 4 / n))
    *
    * valid when eps0 <= ln(n / (16 ln(2/delta))) (fail-loud otherwise —
    * outside it the bound simply does not apply; run more users or
    * lower eps0). Pure math, no data access: feed the result to a
    * central accountant (the [[graft.core.BudgetAccountant]] family)
    * exactly like [[graft.spark.RangeTree.treeCompositionEpsilon]]
    * bridges tree releases. The bound is monotone: DECREASING in n
    * (more to hide among), INCREASING in eps0, DECREASING as delta
    * grows — all spec-pinned, plus the amplification guarantee itself
    * (eps < eps0 in the valid regime at realistic n). */
  def shuffleAmplifiedEpsilon(epsilon0: Double, n: Long,
      delta: Double): Double =
    // the closed form lives in core (r17): the BudgetAccountant resolves
    // shuffled releases through graft.core.ShuffleAmplification, and
    // core cannot depend on the spark tier — this is the public face
    graft.core.ShuffleAmplification.amplifiedEpsilon(epsilon0, n, delta)

  /** TIGHT fleet-of-telemetry accounting (r17, the
    * [[graft.spark.RangeTree.treeCompositionEpsilon]] golden pattern for
    * the LDP bridge): `nReleases` repeated shuffled collections — a
    * DAILY OLH telemetry release, say — are each (epsAmp, deltaEach)-DP
    * centrally with epsAmp = [[shuffleAmplifiedEpsilon]](eps0, n,
    * deltaEach); composing them naively costs nReleases * epsAmp, while
    * registering the point as a privacy-loss distribution
    * ([[graft.core.PLD.fromPrivacyParameters]], PESSIMISTIC grid — a
    * certified upper bound) and self-composing gives the advanced-
    * composition-tight total the fleet actually spends. Returns the
    * composed epsilon at `totalDelta` (which must also absorb the
    * nReleases * deltaEach infinity mass — infinite if it cannot). */
  def shuffledFleetEpsilon(
      epsilon0: Double,
      nReports: Long,
      deltaEach: Double,
      nReleases: Int,
      totalDelta: Double,
      h: Double = 1e-3
  ): Double = {
    require(nReleases >= 1, s"nReleases must be >= 1, got $nReleases")
    require(totalDelta > 0 && totalDelta < 1,
      s"totalDelta must be in (0, 1), got $totalDelta")
    val epsAmp = shuffleAmplifiedEpsilon(epsilon0, nReports, deltaEach)
    graft.core.PLD.fromPrivacyParameters(epsAmp, deltaEach, h,
        pessimistic = true)
      .selfCompose(nReleases)
      .epsilonForDelta(totalDelta)
  }

  /** Human-readable shuffle-amplification report — the explain
    * convention: states the trust model, the local and central
    * guarantees, and the amplification factor. Pure string math. */
  def explainShuffle(epsilon0: Double, n: Long, delta: Double): String = {
    val eps = shuffleAmplifiedEpsilon(epsilon0, n, delta)
    s"""Shuffle-model amplification (FMT'21 clone reduction)
       |  trust     : each of $n units randomizes LOCALLY at eps0 = ${f"$epsilon0%g"}-LDP; a shuffler discards report-to-unit linkage before the analyst
       |  central   : the shuffled collection is (${f"$eps%g"}, ${f"$delta%g"})-DP — feed THIS to the central accountant
       |  amplifies : ${f"${epsilon0 / eps}%.1f"}x (grows ~sqrt(n); the shuffler is the trust being spent)
       |""".stripMargin
  }

  /** LOCAL-DP mean estimation — the 1-BIT mechanism (Duchi-Jordan-
    * Wainwright's minimax-rate randomizer, the LDP analogue of the
    * central engine's clamped mean): each unit's value clamps into the
    * PUBLIC [lo, hi], normalizes to x in [-1, 1], and the unit reports
    * ONE BIT b in {-1, +1} with P(b = +1) = 1/2 + x t / 2 where
    * t = (e^eps - 1)/(e^eps + 1) — eps-LDP by direct likelihood-ratio
    * check, and E[b] = x t, so mean(b)/t unbiasedly estimates mean(x)
    * and maps back to value units. Per-unit bound: ONE report (the
    * deterministic lowest clamped value); NULL values fail loud.
    *
    * Zero noise (uniform() = 0.5) reports b = sign(x): deterministic —
    * the released frame replays exactly (the gate convention; the
    * estimator's statistical behavior is spec-pinned under the real
    * randomizer). Output: one row — (n_reports, reported_plus_ones,
    * est_mean) with est_mean in value units, CLAMPED into [lo, hi]
    * (the raw debiased estimate can fall outside the domain under
    * noise; the domain is public, so clamping is free post-processing). */
  def ldpMean(
      df: DataFrame,
      pidCol: String,
      valueCol: Column,
      lo: Double,
      hi: Double,
      epsilon: Double,
      noise: NoiseSource
  ): DataFrame = duchiRelease(Duchi("ldpMean", lo, hi, epsilon, 1), df, pidCol,
    valueCol, noise)

  /** LONGITUDINAL LDP NUMERIC collection — the [[ldpLongitudinalStep]]
    * permanent-response ledger applied to the Duchi 1-bit mean
    * randomizer (r18, closing the longitudinal tier's
    * frequency-only asymmetry): a unit's noisy sign bit for a (clamped)
    * value is drawn ONCE and MEMOIZED per (unit, value); every later
    * collection where the unit still holds that value REUSES the stored
    * bit verbatim, so m repeated telemetry collections of an unchanged
    * metric cost ONE eps — not m*eps. A unit that changes value draws a
    * fresh bit and spends a fresh eps (the ledger is per (unit, value),
    * RAPPOR's model). The memo lives client-side in a real deployment;
    * here it is the persisted store frame (the [[LocalDP]] trusted-
    * randomizer convention).
    *
    * Store: (__pid, __v, __b, __eps) — one row per (unit, clamped
    * value) ever reported. Memoized bits are CALIBRATION-specific (the
    * [[ldpLongitudinalStep]] g-check convention): the store's eps must
    * equal this step's, and the DOMAIN [lo, hi) must stay fixed across
    * collections (the clamped value is part of the ledger key — a
    * domain change would silently re-key the memo), both fail-loud.
    * The step pins the grown store internally; callers checkpoint it
    * between steps (parquet round-trips make draws final).
    *
    * Returns (estimate, grownStore): the estimate is this collection's
    * [[ldpMean]] release (same schema: n_reports, reported_plus_ones,
    * est_mean) over the units' memoized bits. Zero noise: memoized
    * bits equal deterministic sign bits, so EVERY collection's
    * estimate over unchanged values equals the one-shot [[ldpMean]]
    * release (the gate anchor); bit REUSE is spec-pinned with a
    * draw-counting source. */
  def ldpLongitudinalMeanStep(
      batch: DataFrame,
      store: Option[DataFrame],
      pidCol: String,
      valueCol: Column,
      lo: Double,
      hi: Double,
      epsilon: Double,
      noise: NoiseSource
  ): (DataFrame, DataFrame) = duchiMemoStep(
    Duchi("ldpLongitudinalMeanStep", lo, hi, epsilon, 1), batch, store, pidCol,
    valueCol, noise)

  /** The VARIANCE arm of the longitudinal numeric ledger — the
    * [[ldpLongitudinalMeanStep]] permanent-response memoization over
    * [[ldpVariance]]'s TWO eps/2 sign bits (first and second moment,
    * L1 composition): both bits for a (unit, value) draw once and are
    * reused while the value is unchanged. Same store conventions
    * (per-(unit, value) ledger (__pid, __v, __b1, __b2, __eps), eps +
    * domain fixed across collections, fail-loud), same release schema as
    * [[ldpVariance]] (n_reports, est_mean, est_m2, est_variance); zero
    * noise makes every collection over unchanged values equal the
    * one-shot [[ldpVariance]] release. */
  def ldpLongitudinalVarianceStep(
      batch: DataFrame,
      store: Option[DataFrame],
      pidCol: String,
      valueCol: Column,
      lo: Double,
      hi: Double,
      epsilon: Double,
      noise: NoiseSource
  ): (DataFrame, DataFrame) = duchiMemoStep(
    Duchi("ldpLongitudinalVarianceStep", lo, hi, epsilon, 2), batch, store, pidCol,
    valueCol, noise)

  // ---- the Duchi core: ldpMean, ldpVariance and their ledger steps ----

  /** Duchi 1-bit calibration over the PUBLIC [lo, hi]: `moments` sign bits
    * per unit (v, and v^2 for the variance — which needs lo >= 0 so the
    * v^2 normalization is monotone), each at eps/moments (L1
    * composition): P(b = +1) = 1/2 + x t / 2, x the moment normalized to
    * [-1, 1], t = (e^(eps/m) - 1)/(e^(eps/m) + 1). */
  private final case class Duchi(what: String, lo: Double, hi: Double,
      epsilon: Double, moments: Int) {
    if (moments == 1) require(lo < hi, s"empty domain [$lo, $hi]")
    else require(lo >= 0 && lo < hi,
      s"$what needs 0 <= lo < hi (v^2 normalization is monotone only for " +
        s"non-negative domains), got [$lo, $hi]")
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    val t: Double = (math.exp(epsilon / moments) - 1.0) / (math.exp(epsilon / moments) + 1.0)
    /** each moment's public range: [lo, hi] for v, [lo^2, hi^2] for v^2 */
    val ranges: Seq[(Double, Double)] = Seq((lo, hi), (lo * lo, hi * hi)).take(moments)
    /** the bit columns, named as the ledger stores them */
    val bits: Seq[String] = if (moments == 1) Seq("__b") else Seq("__b1", "__b2")

    /** One report per unit: the deterministic lowest value clamped into
      * [lo, hi] (a per-unit MIN, aggregated map-side) of each (already
      * guarded) `pid`. Returns (__pid, __v). */
    def units(df: DataFrame, pid: Column, valueCol: Column): DataFrame =
      df.select(pid.as("__pid"),
          least(greatest(nonNull(what, valueCol, "double"), lit(lo)), lit(hi)).as("__v"))
        .groupBy(col("__pid")).agg(min(col("__v")).as("__v"))

    /** Adds each unit's sign bits, drawn in moment order by ONE
      * nondeterministic UDF (the [[ldpFrequency]] retry caveat applies to
      * each bit). */
    def withBits(noise: NoiseSource)(df: DataFrame): DataFrame = {
      val (tt, axes) = (t, ranges.map { case (a, b) => ((a + b) / 2.0, (b - a) / 2.0) })
      val draw = udf((v: Double) => Array.tabulate(axes.size) { k =>
        val x = ((if (k == 0) v else v * v) - axes(k)._1) / axes(k)._2
        if (noise.uniform() < 0.5 + x * tt / 2.0) 1 else -1
      }).asNondeterministic()
      bits.zipWithIndex.foldLeft(df.withColumn("__bb", draw(col("__v")))) {
        case (d, (b, k)) => d.withColumn(b, element_at(col("__bb"), k + 1))
      }.drop("__bb")
    }

    /** The release over one row of `bits` per unit: n_reports and per
      * moment mid + (sum b / n) / t * half clamped into the moment's range
      * — the mean with its +1 count, the variance with E[v^2] and the
      * plug-in E[v^2] - E[v]^2 clamped into [0, (hi-lo)^2/4]. An empty
      * cohort fails loud (a 0/0 would release NULL). */
    def readout(bitRows: DataFrame): DataFrame = {
      def est(k: Int): Column = {
        val (a, b) = ranges(k)
        round(least(greatest(lit((a + b) / 2.0) + (col(s"__s$k") /
          col("n_reports").cast("double")) / lit(t) * lit((b - a) / 2.0), lit(a)),
          lit(b)), 9)
      }
      val agg = bitRows.agg(count(lit(1)).as("n_reports"),
        sum(when(col(bits.head) === 1, 1L).otherwise(0L)).as("reported_plus_ones") +:
          bits.indices.map(k => sum(col(bits(k))).cast("double").as(s"__s$k")): _*)
      val mean = when(col("n_reports") === 0, raise_error(lit(s"$what: zero " +
          s"privacy units — an empty cohort has no ${if (moments == 1) "mean"
            else "variance"} to release")).cast("double"))
        .otherwise(est(0)).as("est_mean")
      if (moments == 1) agg.select(col("n_reports"), col("reported_plus_ones"), mean)
      else agg.select(col("n_reports"), mean, est(1).as("est_m2"))
        .withColumn("est_variance", round(least(greatest(
          col("est_m2") - col("est_mean") * col("est_mean"), lit(0.0)),
          lit((hi - lo) * (hi - lo) / 4.0)), 9))
    }
  }

  /** The one-shot Duchi release: a NULL pid fails loud (null pids would
    * merge distinct units into one report). */
  private def duchiRelease(d: Duchi, df: DataFrame, pidCol: String, valueCol: Column,
      noise: NoiseSource): DataFrame = {
    val pid = when(col(pidCol).isNull, raise_error(lit(s"${d.what}: NULL " +
        "privacy-unit id — distinct units would merge into one report; filter " +
        "or key upstream")).cast("string"))
      .otherwise(col(pidCol).cast("string"))
    d.readout(d.withBits(noise)(d.units(df, pid, valueCol)))
  }

  /** The Duchi ledger step: the memo step over (unit, clamped value),
    * keyed by a BIGINT pid, and this collection's release over the units'
    * memoized bits. */
  private def duchiMemoStep(d: Duchi, batch: DataFrame, store: Option[DataFrame],
      pidCol: String, valueCol: Column, noise: NoiseSource): (DataFrame, DataFrame) = {
    val pidN = col(pidCol).try_cast("bigint")
    val pid = when(pidN.isNull, raise_error(lit(s"${d.what}: pid does not cast " +
        "to BIGINT — the ledger keys on it")).cast("long"))
      .otherwise(pidN)
    val units = d.units(batch, pid, valueCol)
    val grown = memoStep(d.what, units, store,
      ("__v" -> DoubleType) +: d.bits.map(_ -> IntegerType) :+ ("__eps" -> DoubleType),
      d.epsilon, d.withBits(noise))
    (d.readout(units.join(grown, Seq("__pid", "__v"))), grown)
  }
}
