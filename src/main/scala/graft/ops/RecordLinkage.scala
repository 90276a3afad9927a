package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One field's comparison rule for record linkage — the integerized
  * Fellegi-Sunter model: agreement on a field contributes a positive
  * log-odds weight, disagreement a (typically negative) one, and a NULL on
  * either side contributes ZERO (missing data is no evidence either way —
  * the standard m/u-model treatment, and the convention Splink documents).
  * Weights are caller-scaled INTEGERS so scores are exact in any engine. */
sealed trait FieldRule extends Serializable {
  def name: String
  def column: Column
  def agreeWeight: Long
  def disagreeWeight: Long
  /** The agreement predicate over the two sides' field values. */
  private[graft] def agrees(a: Column, b: Column): Column
  /** The applied weight: 0 on missing evidence, else agree/disagree. */
  private[graft] def weight(a: Column, b: Column): Column =
    when(a.isNull || b.isNull, lit(0L))
      .when(agrees(a, b), lit(agreeWeight))
      .otherwise(lit(disagreeWeight))
}

/** Exact equality (ids, codes, categorical attributes). */
final case class ExactField(name: String, column: Column,
    agreeWeight: Long, disagreeWeight: Long) extends FieldRule {
  private[graft] def agrees(a: Column, b: Column): Column = a === b
}

/** Edit-distance agreement for noisy strings: `levenshtein(a, b) <=
  * maxEdit`. Both Spark and standard SQL engines implement the classic
  * character-level Levenshtein, so the predicate replays exactly;
  * Spark-side it runs as the banded THRESHOLD form (`levenshtein(a, b,
  * maxEdit) >= 0` — -1 means "exceeds", so the predicate is identical
  * while the DP fills O(maxEdit·len) cells instead of O(len²); measured
  * 1.9x on the blocked-pair workload). */
final case class FuzzyStringField(name: String, column: Column, maxEdit: Int,
    agreeWeight: Long, disagreeWeight: Long) extends FieldRule {
  require(maxEdit >= 0, s"maxEdit must be >= 0, got $maxEdit")
  private[graft] def agrees(a: Column, b: Column): Column =
    levenshtein(a, b, maxEdit) >= 0
}

/** Absolute-tolerance agreement for numeric attributes. */
final case class NumericField(name: String, column: Column, tolerance: Double,
    agreeWeight: Long, disagreeWeight: Long) extends FieldRule {
  require(tolerance >= 0 && !tolerance.isNaN,
    s"tolerance must be >= 0, got $tolerance")
  private[graft] def agrees(a: Column, b: Column): Column =
    abs(a - b) <= tolerance
}

/** Blocked record linkage / entity resolution — the classic structured-data
  * dedup workload (Fellegi & Sunter JASA'69; the Splink/dedupe shape),
  * distinct from the text near-dup tier: records are rows with typed
  * fields, candidate pairs come from EQUI-BLOCKING (not shingle banding),
  * and the match decision is a weighted field-agreement score, not a
  * set-similarity threshold. Reference analog: none — the reference has no
  * record-linkage surface.
  *
  * Scale shape: one narrow projection (id, block keys, rule fields) is
  * localCheckpoint-shared by the guard aggregation and both sides of the
  * blocking self-join; blocking is ONE shuffle on the block keys; scoring
  * is a per-pair projection (all-integer arithmetic); clusters reuse
  * [[Dedup.connectedComponents]] (the Kiveris MapReduce-CC layout — no
  * driver-side graph). Within-block cost is quadratic, so the exact pair
  * count `sum(n*(n-1)/2)` over the block histogram is checked BEFORE the
  * join and fails loud over `maxPairsPerRecord * nRecords`, directing the
  * caller to finer blocking keys (the candidate-volume guard convention of
  * [[Dedup.ngramJaccardPairs]] — a wall, not a sieve).
  */
object RecordLinkage {

  /** Scored candidate pairs: every same-block pair `(id_a < id_b)` with one
    * applied-weight column per rule (`<name>_w`: 0 = missing evidence,
    * else the agree/disagree weight) and their exact integer `score`;
    * pairs below `threshold` are dropped. Records with a NULL block key
    * never pair (standard blocking semantics — route them through a
    * separate pass with a different key if they matter). */
  def linkPairs(df: DataFrame, idCol: String, blockKeys: Seq[Column],
      rules: Seq[FieldRule], threshold: Long,
      maxPairsPerRecord: Double = 1000.0): DataFrame = {
    require(blockKeys.nonEmpty, "at least one block key is required " +
      "(an unblocked self-join is the full cartesian square)")
    validateRules(rules, checkWeights = true)
    val blkNames = blockKeys.indices.map(i => s"__er_blk_$i")
    val fldNames = rules.map(r => s"__er_f_${r.name}")
    val proj = df.select(
      col(idCol).as("__er_id") +:
        (blockKeys.zip(blkNames).map { case (c, n) => c.as(n) } ++
          rules.zip(fldNames).map { case (r, n) => r.column.as(n) }): _*)
      .localCheckpoint(false) // guard agg + both join sides share one scan
    // exact candidate volume from the block histogram, BEFORE the join
    guardBlockVolume(proj, blkNames, maxPairsPerRecord, "linkPairs")
    val l = proj.select(proj.columns.map(c => col(c).as(s"${c}_a")): _*)
    val r = proj.select(proj.columns.map(c => col(c).as(s"${c}_b")): _*)
    val joinCond = blkNames.map(n => col(s"${n}_a") === col(s"${n}_b"))
      .reduce(_ && _) && col("__er_id_a") < col("__er_id_b")
    scorePairs(
      l.join(r, joinCond)
        .withColumnRenamed("__er_id_a", "id_a")
        .withColumnRenamed("__er_id_b", "id_b"),
      rules, threshold)
  }

  /** Cross-TABLE record linkage: scored A x B pairs under the same
    * equi-blocking + Fellegi-Sunter tail as [[linkPairs]], for the
    * two-source setting (a customer file vs a vendor feed) where the
    * self-join form is wrong twice over — A-A and B-B pairs must never
    * score, and the two id spaces may collide, which the union-then-self-
    * link workaround can only dodge with an offset hack. Ids stay in their
    * own namespaces (`id_a` always from A, `id_b` always from B, no
    * canonicalization, no `id_a < id_b` filter — it would silently drop
    * cross-source pairs on colliding ids). The volume guard is the exact
    * cross count `sum over blocks of nA*nB` against
    * `maxPairsPerRecord * (|A| + |B|)`, NULL block keys excluded on both
    * sides (they never equi-join). `blockKeys`/`rules` are column
    * expressions resolved against EACH input, so both frames must carry
    * the referenced columns. */
  def linkPairsAB(dfA: DataFrame, dfB: DataFrame, idCol: String,
      blockKeys: Seq[Column], rules: Seq[FieldRule], threshold: Long,
      maxPairsPerRecord: Double = 1000.0): DataFrame = {
    require(blockKeys.nonEmpty, "at least one block key is required " +
      "(an unblocked A x B join is the full cartesian product)")
    validateRules(rules, checkWeights = true)
    val blkNames = blockKeys.indices.map(i => s"__er_blk_$i")
    val fldNames = rules.map(r => s"__er_f_${r.name}")
    def proj(df: DataFrame) = df.select(
      col(idCol).as("__er_id") +:
        (blockKeys.zip(blkNames).map { case (c, n) => c.as(n) } ++
          rules.zip(fldNames).map { case (r, n) => r.column.as(n) }): _*)
      .localCheckpoint(false) // guard histogram + join side share one scan
    val pa = proj(dfA)
    val pb = proj(dfB)
    if (maxPairsPerRecord.isFinite) {
      val notNull = blkNames.map(col(_).isNotNull).reduce(_ && _)
      def hist(p: DataFrame, n: String) = p.filter(notNull)
        .groupBy(blkNames.map(col): _*).agg(count(lit(1)).as(n))
      val row = hist(pa, "na").join(hist(pb, "nb"), blkNames.toSeq, "full_outer")
        .agg(
          coalesce(sum((coalesce(col("na"), lit(0L)) *
            coalesce(col("nb"), lit(0L))).cast("double")), lit(0.0)).as("pairs"),
          coalesce(sum(col("na")), lit(0L)).as("ra"),
          coalesce(sum(col("nb")), lit(0L)).as("rb")).head()
      val pairs: Double = row.getDouble(0)
      val n: Long = row.getLong(1) + row.getLong(2)
      if (n > 0 && pairs > maxPairsPerRecord * n) throw new IllegalStateException(
        f"linkPairsAB: $pairs%.3g cross candidate pairs over $n records " +
          f"(${pairs / n}%.0f/record) exceeds maxPairsPerRecord=" +
          f"$maxPairsPerRecord%.0f — the hottest blocks are too coarse. Use " +
          "finer (or composite) block keys, or raise the cap deliberately")
    }
    val l = pa.select(pa.columns.map(c => col(c).as(s"${c}_a")): _*)
    val r = pb.select(pb.columns.map(c => col(c).as(s"${c}_b")): _*)
    val joinCond = blkNames.map(n => col(s"${n}_a") === col(s"${n}_b"))
      .reduce(_ && _)
    scorePairs(
      l.join(r, joinCond)
        .withColumnRenamed("__er_id_a", "id_a")
        .withColumnRenamed("__er_id_b", "id_b"),
      rules, threshold)
  }

  /** Multi-pass blocking — the standard answer to single-key blocking's
    * coverage holes (a NULL or typo'd block key hides a record from every
    * pair of that pass): each pass contributes the same-block id pairs of
    * its own key set, the union is DEDUPLICATED (a pair found by several
    * passes must score ONCE — rescoring would be harmless here but
    * double-counting is the classic multi-pass bug, and downstream
    * consumers must see one row per pair), and scoring runs once per
    * unique pair. Pair generation carries IDS ONLY through the blocking
    * joins; field columns join back for the single scoring pass ([[Dedup]]
    * candidate convention — the wide row never rides the quadratic part).
    * The candidate-volume guard applies per pass, so the error names the
    * pass that is too coarse. */
  def linkPairsMultiPass(df: DataFrame, idCol: String,
      passes: Seq[Seq[Column]], rules: Seq[FieldRule], threshold: Long,
      maxPairsPerRecord: Double = 1000.0): DataFrame = {
    require(passes.nonEmpty, "at least one blocking pass is required")
    validateRules(rules, checkWeights = true)
    val fldNames = rules.map(r => s"__er_f_${r.name}")
    val allBlk = passes.zipWithIndex.flatMap { case (ks, p) =>
      ks.zipWithIndex.map { case (c, i) => (s"__er_blk_${p}_$i", c) }
    }
    val proj = df.select(
      col(idCol).as("__er_id") +:
        (allBlk.map { case (n, c) => c.as(n) } ++
          rules.zip(fldNames).map { case (r, n) => r.column.as(n) }): _*)
      .localCheckpoint(false) // guards + pair passes + field join share one scan
    val candidates = passes.zipWithIndex.map { case (ks, p) =>
      val blkNames = ks.indices.map(i => s"__er_blk_${p}_$i")
      if (maxPairsPerRecord.isFinite) {
        // NULL block keys never equi-join → zero pairs; exclude them so the
        // guard matches the pass's actual candidate volume
        val row = proj
          .filter(blkNames.map(col(_).isNotNull).reduce(_ && _))
          .groupBy(blkNames.map(col): _*)
          .agg(count(lit(1)).as("n"))
          .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0)).as("pairs"),
            coalesce(sum(col("n")), lit(0L)).as("rows")).head()
        val pairs: Double = row.getDouble(0)
        val n: Long = row.getLong(1)
        if (n > 0 && pairs > maxPairsPerRecord * n) throw new IllegalStateException(
          f"linkPairsMultiPass: pass $p produces $pairs%.3g candidate pairs " +
            f"over $n records (${pairs / n}%.0f/record), exceeding " +
            f"maxPairsPerRecord=$maxPairsPerRecord%.0f — use finer (or " +
            "composite) block keys for that pass, or raise the cap deliberately")
      }
      val keep = "__er_id" +: blkNames
      val thin = proj.select(keep.map(col): _*)
      val l = thin.select(keep.map(c => col(c).as(s"${c}_a")): _*)
      val r = thin.select(keep.map(c => col(c).as(s"${c}_b")): _*)
      val cond = blkNames.map(n => col(s"${n}_a") === col(s"${n}_b"))
        .reduce(_ && _) && col("__er_id_a") < col("__er_id_b")
      l.join(r, cond).select(col("__er_id_a").as("id_a"),
        col("__er_id_b").as("id_b"))
    }
    val unique = candidates.reduce(_.unionByName(_)).distinct()
    val fa = proj.select(col("__er_id").as("id_a") +:
      fldNames.map(n => col(n).as(s"${n}_a")): _*)
    val fb = proj.select(col("__er_id").as("id_b") +:
      fldNames.map(n => col(n).as(s"${n}_b")): _*)
    scorePairs(unique.join(fa, "id_a").join(fb, "id_b"), rules, threshold)
  }

  /** Incremental (ingest-time) linkage: score only pairs that involve at
    * least one NEW record — new-vs-existing and new-vs-new — so an
    * increment costs `|new| × block-size`, never a rescore of the settled
    * existing-vs-existing pairs (whose scored output the caller already
    * holds; union the two frames for the full pair set, then
    * [[resolveEntities]] or [[Dedup.incrementalComponents]] folds the
    * increment into the entity store). The exact incremental identity —
    * `incremental(all, isNew) ∪ linkPairs(existing-only)` equals
    * `linkPairs(all)` — is spec-pinned.
    *
    * The guard bounds the INCREMENT's candidate volume
    * (`n_new·(n_new-1)/2 + n_new·n_old` per block) against
    * `maxPairsPerRecord * n_new` — increment-proportional, like the cost. */
  def linkPairsIncremental(df: DataFrame, idCol: String, isNew: Column,
      blockKeys: Seq[Column], rules: Seq[FieldRule], threshold: Long,
      maxPairsPerRecord: Double = 1000.0): DataFrame = {
    require(blockKeys.nonEmpty, "at least one block key is required")
    validateRules(rules, checkWeights = true)
    val blkNames = blockKeys.indices.map(i => s"__er_blk_$i")
    val fldNames = rules.map(r => s"__er_f_${r.name}")
    // fail loud on a NULL isNew flag: NULL would propagate through the
    // orientation conjunct below and silently drop the (null-flag, new)
    // pairs whose null-flag side has the larger id — an asymmetric
    // coverage hole, not a choice
    val flag = isNew.cast("boolean")
    val proj = df.select(
      Seq(col(idCol).as("__er_id"),
        when(flag.isNull, raise_error(lit(
          "linkPairsIncremental: NULL isNew flag — it would silently drop " +
            "pairs; coalesce the flag upstream")).cast("boolean"))
          .otherwise(flag).as("__er_new")) ++
        blockKeys.zip(blkNames).map { case (c, n) => c.as(n) } ++
        rules.zip(fldNames).map { case (r, n) => r.column.as(n) }: _*)
      .localCheckpoint(false) // guard agg + both join sides share one scan
    if (maxPairsPerRecord.isFinite) {
      // NULL block keys never equi-join → zero pairs; exclude them so the
      // guard matches the increment's actual candidate volume
      val row = proj
        .filter(blkNames.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(blkNames.map(col): _*)
        .agg(count(lit(1)).as("n"),
          sum(col("__er_new").cast("long")).as("nn"))
        .agg(coalesce(sum(col("nn") * (col("nn") - 1) / 2 +
            col("nn") * (col("n") - col("nn"))), lit(0.0)).as("pairs"),
          coalesce(sum(col("nn")), lit(0L)).as("newRows")).head()
      val pairs: Double = row.getDouble(0)
      val nNew: Long = row.getLong(1)
      if (nNew > 0 && pairs > maxPairsPerRecord * nNew) throw new IllegalStateException(
        f"linkPairsIncremental: $pairs%.3g increment candidate pairs over " +
          f"$nNew new records (${pairs / nNew}%.0f/new record) exceeds " +
          f"maxPairsPerRecord=$maxPairsPerRecord%.0f — use finer (or " +
          "composite) block keys, or raise the cap deliberately")
    }
    val l = proj.select(proj.columns.map(c => col(c).as(s"${c}_a")): _*)
    val r = proj.filter(col("__er_new"))
      .select(proj.columns.map(c => col(c).as(s"${c}_b")): _*)
    // (existing, new): generated once — existing ids never appear on the
    // right. (new, new): the l.id < r.id conjunct keeps exactly one of the
    // two orientations.
    val joinCond = blkNames.map(n => col(s"${n}_a") === col(s"${n}_b"))
      .reduce(_ && _) &&
      (!col("__er_new_a") || col("__er_id_a") < col("__er_id_b")) &&
      col("__er_id_a") =!= col("__er_id_b")
    // score directly in the join (every pair is generated exactly once, so
    // no dedup barrier is needed); canonicalize ids only — the agreement
    // predicates are symmetric, so field orientation is irrelevant
    scorePairs(
      l.join(r, joinCond)
        .withColumn("id_a", least(col("__er_id_a"), col("__er_id_b")))
        .withColumn("id_b", greatest(col("__er_id_a"), col("__er_id_b"))),
      rules, threshold)
  }

  /** Banded-LSH pair generation over a NOISY STRING key — the scale-safe
    * blocking arm for keys where equi-blocking has no usable exact value
    * (names, addresses, free-text identifiers) and sorted-neighborhood has
    * no orderable proxy: a typo'd key lands in a different equi-block
    * forever, but its char-shingle set is nearly unchanged, so minhash
    * band buckets still collide. Reuses the PORTABLE (md5 +
    * linear-congruential) minhash machinery of [[Dedup]] — every stage
    * (char shingling, signatures, band buckets) is deterministic integer
    * arithmetic an independent SQL engine replays bit-for-bit — then feeds
    * the same guarded Fellegi-Sunter scoring tail as [[linkPairs]].
    *
    * Scale shape: bucket sizes are driven by string SIMILARITY, not value
    * frequency — a million distinct noisy names produce a million tiny
    * buckets where an equi-block on a normalized prefix produces one hot
    * quadratic block. Candidate volume is guarded EXACTLY like the
    * equi-block arms: the generated (pre-distinct) pair count
    * `sum(n·(n-1)/2)` over the (band, bucket) histogram — the actual join
    * volume — is checked BEFORE the join against
    * `maxPairsPerRecord · nRecords` and fails loud, directing the caller
    * to more rows per band (higher precision) or a longer shingle.
    *
    * Banding selectivity: a pair collides in one band with probability
    * `J^rowsPerBand` (J = char-shingle Jaccard), anywhere with
    * `1-(1-J^r)^b` — defaults (16x4) pair J>=0.8 keys with probability
    * ~1 and J<=0.1 keys with probability ~2e-3. Rows with a NULL or
    * empty block string never pair (the null-block-key convention).
    * Returns the [[linkPairs]] scored-pair schema, `id_a < id_b`.
    *
    * `maxBucket` (0 = off) is the MASS-DUPLICATE escape: a corpus where
    * thousands of records share one literal key (placeholder addresses,
    * "N/A", bulk-registered accounts) puts them all in the SAME band
    * buckets, and the quadratic pair mass inside those buckets is exactly
    * what the volume guard (correctly) rejects. With a cap, a bucket of
    * size > maxBucket releases only its star to the min-id representative
    * (n-1 pairs instead of n(n-1)/2) via [[Dedup.bandedCandidates]]'s
    * collapse, the guard accounts the POST-collapse volume, and the
    * output is linear in the hot-key mass. Semantics: member-member pairs
    * of an over-cap bucket score only if some other band catches them in
    * a small bucket — for a shared-literal key they won't, which is the
    * point (those pairs carry no linkage evidence beyond the shared
    * placeholder); true typo'd pairs keep their ~1 collision probability
    * through the other bands. Capped == uncapped whenever no bucket
    * exceeds the cap (spec-pinned). */
  def lshLinkPairs(df: DataFrame, idCol: String, blockString: Column,
      rules: Seq[FieldRule], threshold: Long,
      shingleSize: Int = 3, numBands: Int = 16, rowsPerBand: Int = 4,
      maxPairsPerRecord: Double = 1000.0, maxBucket: Int = 0): DataFrame = {
    require(shingleSize >= 1, s"shingleSize must be >= 1, got $shingleSize")
    require(numBands >= 1, s"numBands must be >= 1, got $numBands")
    require(rowsPerBand >= 1, s"rowsPerBand must be >= 1, got $rowsPerBand")
    validateRules(rules, checkWeights = true)
    val fldNames = rules.map(r => s"__er_f_${r.name}")
    val proj = df.select(
      col(idCol).as("__er_id") +:
        blockString.as("__er_bs") +:
        rules.zip(fldNames).map { case (r, n) => r.column.as(n) }: _*)
      .filter(col("__er_bs").isNotNull && length(col("__er_bs")) > 0)
      // charShinglesUdf, not the transform() Column (r19): the higher-order
      // lambda is interpreted per element and re-evaluates the key
      // expression — same distinct shingle set, and minhash is
      // order-insensitive, so the signature is identical
      .withColumn("__er_sig", Dedup.portableSigFromShingles(
        Dedup.charShinglesUdf(shingleSize)(col("__er_bs")),
        numBands * rowsPerBand))
      .localCheckpoint(false) // banding + guard + field join share one scan
    val banded = proj.select(col("__er_id").as("id"),
      posexplode(array(
        Dedup.portableBandKeysFor(col("__er_sig"), numBands, rowsPerBand): _*))
        .as(Seq("band", "bucket")))
      .localCheckpoint(false) // guard agg + both candidate join sides
    if (maxPairsPerRecord.isFinite) {
      // with a bucket cap the guard accounts the POST-collapse volume:
      // an over-cap bucket generates n-1 star pairs, not n(n-1)/2
      val perBucket =
        if (maxBucket > 0)
          when(col("n") <= maxBucket, col("n") * (col("n") - 1) / 2)
            .otherwise(col("n") - 1)
        else col("n") * (col("n") - 1) / 2
      val row = banded.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(perBucket), lit(0.0)).as("pairs"),
          coalesce(sum(col("n")), lit(0L)).as("rows")).head()
      val pairs: Double = row.getDouble(0)
      val nRec: Long = row.getLong(1) / numBands // each record lands in every band
      if (nRec > 0 && pairs > maxPairsPerRecord * nRec)
        throw new IllegalStateException(
          f"lshLinkPairs: $pairs%.3g generated candidate pairs over $nRec " +
            f"records (${pairs / nRec}%.0f/record) exceeds maxPairsPerRecord=" +
            f"$maxPairsPerRecord%.0f — the band buckets are too coarse " +
            "(mass-duplicate strings?). Raise rowsPerBand, lengthen " +
            "shingles, set maxBucket (the star-collapse escape for " +
            "shared-literal keys), or raise the cap deliberately")
    }
    val cand = Dedup.bandedCandidates(banded, maxBucket)
    // the fields frames are CORPUS-SIZED — pin their joins shuffle_hash
    // (the lshTopK convention): without the hint AQE can elect to
    // broadcast one at the threshold boundary, and at the 100x rung that
    // build OOMs the driver (measured on the 100x linkage run)
    val fa = proj.select(col("__er_id").as("id_a") +:
      fldNames.map(n => col(n).as(s"${n}_a")): _*)
    val fb = proj.select(col("__er_id").as("id_b") +:
      fldNames.map(n => col(n).as(s"${n}_b")): _*)
    scorePairs(cand.join(fa.hint("shuffle_hash"), "id_a")
      .join(fb.hint("shuffle_hash"), "id_b"), rules, threshold)
  }

  /** Sorted-neighborhood pair generation (Hernández & Stolfo SIGMOD'95) —
    * the LINEAR-volume blocking that survives where equi-blocking goes
    * quadratic: records are globally ranked by `(sortKey, id)` and every
    * pair within `windowSize` ranks is scored, so candidate volume is
    * EXACTLY `windowSize * n` regardless of value skew (no hot block, no
    * candidate-volume guard needed — the volume is linear by
    * construction). The classic use: a numeric or lexicographic key
    * where near-duplicates sort adjacently (amounts, normalized names,
    * timestamps).
    *
    * The global rank is distributed: `bucket` (a caller-supplied LONG
    * expression, e.g. `floor(sortKey / width)`) partitions the rank
    * window, per-bucket offsets come from one bounded driver prefix sum
    * (the [[CorpusOps.prefixOffsetsByBucket]] layout), and rank =
    * offset + within-bucket row_number over `(sortKey, id)` — so no task
    * ever sorts the full corpus and the rank equals one SQL
    * `row_number() OVER (ORDER BY sortKey, id)`, which is what makes the
    * release oracle-replayable. Bucket/order alignment is VERIFIED, not
    * trusted: per-bucket [min, max] sortKey ranges must be strictly
    * separated (one tiny aggregation over bucket stats), else this fails
    * loud — an overlapping or tie-straddling bucketing would silently
    * permute the global order. Rows with a NULL sortKey or bucket never
    * pair (the null-block-key convention); route them through another
    * pass and union the scored frames if they matter.
    *
    * Returns the same scored-pair schema as [[linkPairs]], pairs
    * canonicalized `id_a < id_b`. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, sortKey: Column,
      bucket: Column, windowSize: Int, rules: Seq[FieldRule],
      threshold: Long): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1, got $windowSize")
    validateRules(rules, checkWeights = true)
    val fldNames = rules.map(r => s"__er_f_${r.name}")
    val proj = df.select(
      Seq(col(idCol).as("__er_id"), sortKey.as("__er_sk"),
        bucket.cast("long").as("__er_bk")) ++
        rules.zip(fldNames).map { case (r, n) => r.column.as(n) }: _*)
      .filter(col("__er_sk").isNotNull && col("__er_bk").isNotNull)
      .localCheckpoint(false) // stats agg + rank pass + field join share one scan
    // order-alignment guard: strictly separated per-bucket key ranges.
    // Bounded state: one row per non-empty bucket.
    val wb = org.apache.spark.sql.expressions.Window.orderBy(col("__er_bk"))
    val misaligned = proj.groupBy(col("__er_bk"))
      .agg(min(col("__er_sk")).as("lo"), max(col("__er_sk")).as("hi"))
      .withColumn("prev_hi", lag(col("hi"), 1).over(wb))
      .filter(col("prev_hi").isNotNull && col("prev_hi") >= col("lo"))
      .count()
    if (misaligned > 0) throw new IllegalStateException(
      s"sortedNeighborhoodPairs: $misaligned bucket boundaries overlap the " +
        "next bucket's sortKey range — the bucket expression is not " +
        "order-aligned with sortKey (or tie values straddle buckets), which " +
        "would silently permute the global rank. Use a monotone bucket of " +
        "the sort key, e.g. floor(sortKey / width)")
    val (offCol, _) = CorpusOps.prefixOffsetsByBucket(proj, "__er_bk",
      count(lit(1)), ascending = true)
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__er_bk"))
      .orderBy(col("__er_sk").asc, col("__er_id").asc)
    val ranked = proj
      .withColumn("__er_rnk", offCol + row_number().over(wr).cast("long"))
      .localCheckpoint(false) // both sides of the rank join
    val thin = ranked.select(col("__er_id"), col("__er_rnk"))
    val probes = thin.select(col("__er_id").as("__er_ia"),
      explode(sequence(col("__er_rnk") + 1,
        col("__er_rnk") + windowSize)).as("__er_rnk"))
    val cand = probes
      .join(thin.select(col("__er_id").as("__er_ib"), col("__er_rnk")), "__er_rnk")
      .select(least(col("__er_ia"), col("__er_ib")).as("id_a"),
        greatest(col("__er_ia"), col("__er_ib")).as("id_b"))
    val fa = ranked.select(col("__er_id").as("id_a") +:
      fldNames.map(n => col(n).as(s"${n}_a")): _*)
    val fb = ranked.select(col("__er_id").as("id_b") +:
      fldNames.map(n => col(n).as(s"${n}_b")): _*)
    scorePairs(cand.join(fa, "id_a").join(fb, "id_b"), rules, threshold)
  }

  /** The shared scoring tail: per-rule weights, exact integer score,
    * threshold filter. Expects the frame to carry `id_a`/`id_b` plus
    * `__er_f_<rule>_a/_b` field columns.
    *
    * Fuzzy (edit-distance) rules dominate pair cost, so they
    * short-circuit: when the CHEAP rules' exact weights plus every fuzzy
    * rule's best possible contribution (max(agreeWeight, 0) — 0 is the
    * null-evidence arm) cannot reach the threshold, the pair is doomed
    * regardless of the string comparison and each fuzzy weight collapses
    * to its disagree constant without running levenshtein. Output-set
    * preserving: any RELEASED pair has score >= threshold <= that bound,
    * so released rows always carry true weights; only dropped rows may
    * carry the short-circuit constant, and they are dropped. On the ER
    * gate shape (balance tolerance prunes ~99.9% of blocked pairs) this
    * removes nearly every levenshtein call: 7.3 -> 0.8 s at sf0.1. */
  private def scorePairs(paired: DataFrame, rules: Seq[FieldRule],
      threshold: Long): DataFrame = {
    def w(rule: FieldRule): (Column, Column) = {
      val f = s"__er_f_${rule.name}"
      (col(s"${f}_a"), col(s"${f}_b"))
    }
    val (fuzzy, cheap) = rules.partition(_.isInstanceOf[FuzzyStringField])
    val cheapSum = cheap.map { ru => val (a, b) = w(ru); ru.weight(a, b) }
      .reduceOption(_ + _).getOrElse(lit(0L))
    val fuzzyCap = fuzzy.map(ru => math.max(ru.agreeWeight, 0L)).sum
    val doomed = cheapSum + lit(fuzzyCap) < threshold
    val weights = rules.map { rule =>
      val (a, b) = w(rule)
      val expr = rule match {
        case _: FuzzyStringField if cheap.nonEmpty =>
          when(doomed, lit(rule.disagreeWeight)).otherwise(rule.weight(a, b))
        case _ => rule.weight(a, b)
      }
      expr.as(s"${rule.name}_w")
    }
    paired
      .select(col("id_a") +: col("id_b") +: weights: _*)
      .withColumn("score", rules.map(ru => col(s"${ru.name}_w"))
        .reduce(_ + _).cast("long"))
      .filter(col("score") >= threshold)
  }

  /** Agreement-pattern histogram over the blocked candidate pairs — the
    * sufficient statistic for Fellegi-Sunter parameter estimation: one row
    * per pattern of per-rule codes (`<name>_c`: 1 = agree, 0 = disagree,
    * -1 = missing evidence) with its pair count. At most `3^rules` rows
    * regardless of data volume, so the histogram is the thing to collect
    * and the EM below runs driver-side on it. No doomed-pair
    * short-circuit here — estimation needs TRUE codes for every pair, so
    * this pass pays full comparison cost (run it once to fit weights,
    * then link with [[linkPairs]], which prunes).
    *
    * `samplingProb < 1` cuts that one-time cost the way the reference's
    * analysis tier does (the deterministic value-keyed Bernoulli of
    * `sampling_utils.py:38-51` via [[graft.analysis.ValueSampler]]):
    * whole BLOCKS are kept iff the hash of their key tuple falls under
    * the rate — sampling blocks (never individual pairs) keeps every
    * kept block's within-block pair structure intact, so per-rule m/u
    * are estimated on an unbiased block subsample and the EM is
    * unchanged. Deterministic for a fixed key set (re-runs agree). The
    * volume guard applies to the SAMPLED frame — the cost actually
    * paid. */
  def agreementPatterns(df: DataFrame, idCol: String, blockKeys: Seq[Column],
      rules: Seq[FieldRule],
      maxPairsPerRecord: Double = 1000.0,
      samplingProb: Double = 1.0): DataFrame = {
    require(blockKeys.nonEmpty, "at least one block key is required")
    require(samplingProb > 0.0 && samplingProb <= 1.0,
      s"samplingProb must be in (0, 1], got $samplingProb")
    validateRules(rules, checkWeights = false)
    val blkNames = blockKeys.indices.map(i => s"__er_blk_$i")
    val fldNames = rules.map(r => s"__er_f_${r.name}")
    val proj0 = df.select(
      col(idCol).as("__er_id") +:
        (blockKeys.zip(blkNames).map { case (c, n) => c.as(n) } ++
          rules.zip(fldNames).map { case (r, n) => r.column.as(n) }): _*)
    val proj = (if (samplingProb < 1.0)
        proj0.filter(graft.analysis.ValueSampler.keepExpr(
          struct(blkNames.map(col): _*), samplingProb))
      else proj0)
      .localCheckpoint(false)
    guardBlockVolume(proj, blkNames, maxPairsPerRecord, "agreementPatterns")
    val l = proj.select(proj.columns.map(c => col(c).as(s"${c}_a")): _*)
    val r = proj.select(proj.columns.map(c => col(c).as(s"${c}_b")): _*)
    val joinCond = blkNames.map(n => col(s"${n}_a") === col(s"${n}_b"))
      .reduce(_ && _) && col("__er_id_a") < col("__er_id_b")
    val codes = rules.map { rule =>
      val f = s"__er_f_${rule.name}"
      val (a, b) = (col(s"${f}_a"), col(s"${f}_b"))
      when(a.isNull || b.isNull, lit(-1L))
        .when(rule.agrees(a, b), lit(1L)).otherwise(lit(0L))
        .as(s"${rule.name}_c")
    }
    l.join(r, joinCond).select(codes: _*)
      .groupBy(rules.map(ru => col(s"${ru.name}_c")): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Shared rule validation: non-empty, unique SANE names (rule names
    * become column names — a dot or backtick would silently break column
    * resolution), non-inverted weights (skippable for the estimation path,
    * which ignores weights). */
  private def validateRules(rules: Seq[FieldRule], checkWeights: Boolean): Unit = {
    require(rules.nonEmpty, "at least one field rule is required")
    require(rules.map(_.name).distinct.size == rules.size,
      "field rule names must be unique")
    rules.foreach(r => require(r.name.matches("[A-Za-z0-9_]+"),
      s"rule name '${r.name}' must match [A-Za-z0-9_]+ — it becomes an " +
        "output column name, and dots/backticks/spaces break resolution"))
    if (checkWeights) rules.foreach(r => require(r.agreeWeight > r.disagreeWeight,
      s"rule '${r.name}': agreeWeight (${r.agreeWeight}) must exceed " +
        s"disagreeWeight (${r.disagreeWeight}) — inverted weights reward mismatches"))
  }

  /** Shared candidate-volume guard over a block histogram: exact pair
    * count `sum(n*(n-1)/2)` vs `maxPairsPerRecord * rows`; one map-side-
    * combined aggregation over the (checkpointed) thin frame. Rows with a
    * NULL in any block key are excluded up front — an equi-join never
    * matches NULL keys, so they generate zero candidate pairs and counting
    * them would make the guard fail loud for volume the join cannot
    * produce (they also leave the `rows` denominator, which only makes
    * the cap stricter over the records that CAN pair). */
  private def guardBlockVolume(proj: DataFrame, blkNames: Seq[String],
      maxPairsPerRecord: Double, op: String): Unit =
    if (maxPairsPerRecord.isFinite) {
      val row = proj
        .filter(blkNames.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(blkNames.map(col): _*)
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0)).as("pairs"),
          coalesce(sum(col("n")), lit(0L)).as("rows")).head()
      val pairs: Double = row.getDouble(0)
      val n: Long = row.getLong(1)
      if (n > 0 && pairs > maxPairsPerRecord * n) throw new IllegalStateException(
        f"$op: $pairs%.3g candidate pairs over $n records " +
          f"(${pairs / n}%.0f/record) exceeds maxPairsPerRecord=" +
          f"$maxPairsPerRecord%.0f — the hottest blocks are too coarse. Use " +
          "finer (or composite) block keys, or raise the cap deliberately")
    }

  /** Estimated Fellegi-Sunter parameters for one rule: `m = P(agree |
    * match)`, `u = P(agree | non-match)`, and the integerized log-odds
    * weights `round(scale·log2(m/u))` / `round(scale·log2((1-m)/(1-u)))`
    * ready for [[FieldRule]]s. */
  final case class RuleWeights(name: String, m: Double, u: Double,
      agreeWeight: Long, disagreeWeight: Long)

  /** Two-class EM over the agreement-pattern histogram (the Fellegi-Sunter
    * mixture; the estimation step Splink calls "EM training"): patterns
    * are generated by a match class (prob `lambda`) with per-rule
    * agreement probabilities `m_i`, and a non-match class with `u_i`;
    * missing-evidence codes (-1) contribute no likelihood term (the
    * m/u-model treatment of NULLs, matching [[FieldRule.weight]]'s zero
    * arm). Runs on the collected histogram — O(3^rules) per iteration,
    * driver-side, deterministic given the init. Probabilities are clamped
    * to [1e-6, 1 - 1e-6] so a degenerate class cannot produce
    * infinite/NaN weights.
    *
    * `patterns`: (codes per rule, count) rows, e.g. from
    * `agreementPatterns(...).collect()`. Returns per-rule estimates plus
    * weights at `scale` (log2-odds hundredths by default — the
    * integer-weight convention of the scoring tail). */
  def estimateWeights(patterns: Seq[(Seq[Long], Long)], ruleNames: Seq[String],
      iterations: Int = 25, initLambda: Double = 0.1,
      initM: Double = 0.9, initU: Double = 0.1,
      scale: Double = 100.0): (Double, Seq[RuleWeights]) = {
    require(ruleNames.nonEmpty, "ruleNames must not be empty")
    require(patterns.nonEmpty, "patterns must not be empty")
    require(patterns.forall(_._1.length == ruleNames.length),
      "every pattern must carry one code per rule")
    require(iterations >= 1, "iterations must be >= 1")
    val k = ruleNames.length
    def clamp(p: Double) = math.min(1 - 1e-6, math.max(1e-6, p))
    var lambda = clamp(initLambda)
    val m = Array.fill(k)(clamp(initM))
    val u = Array.fill(k)(clamp(initU))
    val total = patterns.map(_._2).sum.toDouble
    var iter = 0
    while (iter < iterations) {
      // E-step: responsibility of the match class per pattern
      val resp = patterns.map { case (codes, n) =>
        var pm = lambda
        var pu = 1 - lambda
        var i = 0
        while (i < k) {
          codes(i) match {
            case 1L  => pm *= m(i); pu *= u(i)
            case 0L  => pm *= (1 - m(i)); pu *= (1 - u(i))
            case _   => () // missing evidence: no term
          }
          i += 1
        }
        (codes, n, pm / (pm + pu))
      }
      // M-step: per-rule agreement rates among informative codes
      lambda = clamp(resp.map { case (_, n, g) => n * g }.sum / total)
      var i = 0
      while (i < k) {
        var gAgree = 0.0; var gInf = 0.0; var hAgree = 0.0; var hInf = 0.0
        resp.foreach { case (codes, n, g) =>
          if (codes(i) != -1L) {
            gInf += n * g; hInf += n * (1 - g)
            if (codes(i) == 1L) { gAgree += n * g; hAgree += n * (1 - g) }
          }
        }
        if (gInf > 0) m(i) = clamp(gAgree / gInf)
        if (hInf > 0) u(i) = clamp(hAgree / hInf)
        i += 1
      }
      iter += 1
    }
    val log2 = math.log(2)
    val out = ruleNames.indices.map { i =>
      RuleWeights(ruleNames(i), m(i), u(i),
        math.round(scale * math.log(m(i) / u(i)) / log2),
        math.round(scale * math.log((1 - m(i)) / (1 - u(i))) / log2))
    }
    (lambda, out)
  }

  /** Resolve linked pairs into entities: `(rec_id, entity_id,
    * cluster_size)` for EVERY record of `df` — matched records carry their
    * connected component's minimum id, unmatched records are singleton
    * entities of themselves. One CC run (bounded rounds) plus one shuffle
    * on the entity id for the sizes. */
  def resolveEntities(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("entity_id"))
    df.select(col(idCol).as("rec_id"))
      .join(comp.select(col("id").as("rec_id"), col("comp")),
        Seq("rec_id"), "left_outer")
      .withColumn("entity_id", coalesce(col("comp"), col("rec_id")))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select("rec_id", "entity_id", "cluster_size")
  }

  /** Materialize one CANONICAL record per entity — the golden-record step
    * that finishes a linkage pipeline (the [[Dedup]] best-of-cluster rule
    * applied to entities): within each entity, keep the record with the
    * highest `preferBy` value, ties broken by MINIMUM id (deterministic —
    * never "whichever task won"). Returns the full surviving rows of `df`
    * plus `entity_id` and `cluster_size`. One rank window per entity on
    * top of [[resolveEntities]]'s shuffle — nothing corpus-quadratic.
    * NULL `preferBy` sorts LAST (nulls never beat a scored record; an
    * all-null entity still keeps exactly one row by the id tiebreak). */
  def canonicalizeEntities(df: DataFrame, idCol: String, pairs: DataFrame,
      preferBy: Column): DataFrame = {
    val ent = resolveEntities(df, idCol, pairs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("entity_id"))
      .orderBy(preferBy.desc_nulls_last, col(idCol).asc)
    df.join(ent.select(col("rec_id").as(idCol), col("entity_id"),
        col("cluster_size")), Seq(idCol))
      .withColumn("__er_rk", row_number().over(w))
      .filter(col("__er_rk") === 1)
      .drop("__er_rk")
  }
}
