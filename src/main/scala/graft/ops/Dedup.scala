package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard near-dup detection.
  *
  * Scale design: every method is a bounded number of shuffles on keys chosen
  * to stay small (hash buckets / band signatures), never an unblocked n^2
  * self-join. Candidate generation goes through LSH band buckets; only
  * bucket-collisions are verified with the exact measure. All hashing is
  * xxhash64 (native, codegen'd).
  */
/** One span-scrubbed document: surviving token count + the space-joined
  * surviving tokens. Top-level so the UDF result encoder stays
  * codegen-compiled. */
final case class SpanScrubbed(n_kept: Int, kept_text: String)

object Dedup {

  // ---------------- exact ----------------

  /** Exact dedup on `keyCols`: keeps the row with the smallest `tiebreaker`
    * per duplicate group. One shuffle on the group key hash. The
    * tiebreaker should be UNIQUE within a group (an id, a fetch
    * timestamp): on a tie exactly one row survives, but WHICH one is
    * task-order-dependent — deterministic output needs a unique key. */
  def dedupExact(df: DataFrame, keyCols: Seq[String], tiebreaker: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tiebreaker))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Duplicate-group summary: one row per distinct key with the kept id and
    * the group size (what you report after a dedup pass). */
  def duplicateGroups(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  // ---------------- shingles + MinHash ----------------

  /** Word n-gram shingles of the lowercased text (distinct).
    *
    * PERF: interpreted higher-order lambdas re-evaluate their body
    * subexpressions PER ELEMENT, so inlining `tokens(text)` here re-runs the
    * tokenizer regex once per shingle. Hot paths must materialize the token
    * array as its own column and call [[wordShinglesFromTokens]]. */
  def wordShingles(text: Column, n: Int = 3): Column =
    wordShinglesFromTokens(TextAnalysis.tokens(text), n)

  /** Word shingles over a pre-materialized token array (see
    * [[wordShingles]]'s perf note — pass an attribute, not an expression). */
  def wordShinglesFromTokens(toks: Column, n: Int = 3): Column =
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))

  /** Word shingles as one primitive loop — same output as
    * [[wordShinglesFromTokens]] (distinct, first-occurrence order, space-
    * joined). Each interpreted `slice`+`concat_ws` lambda element costs
    * ~10us in Catalyst's interpreter; the loop is ~100x cheaper. */
  private def wordShinglesUdf(n: Int) = udf((arr: Array[String]) => {
    if (arr == null) Array.empty[String]
    else if (arr.length < n) Array(arr.mkString(" "))
    else {
      val set = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i <= arr.length - n) {
        val sb = new java.lang.StringBuilder(arr(i))
        var j = 1
        while (j < n) { sb.append(' ').append(arr(i + j)); j += 1 }
        set.add(sb.toString)
        i += 1
      }
      val out = new Array[String](set.size)
      set.toArray(out)
      out
    }
  })

  /** Character n-gram shingles (distinct). PERF: the lambda body re-evaluates
    * `text` per element when it is an expression (not an attribute) — hot
    * paths use [[charShinglesUdf]]. */
  def charShingles(text: Column, n: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => substring(text, i, lit(n))))

  /** Distinct character n-grams as one primitive loop — same output set as
    * [[charShingles]] (first-occurrence order), immune to the per-element
    * re-evaluation of interpreted higher-order lambdas. private[ops] (r19):
    * the record-linkage LSH shingling is the same hot path. */
  private[ops] def charShinglesUdf(n: Int) = udf((s: String) => {
    if (s == null) Array.empty[String]
    else {
      val m = math.max(s.length - (n - 1), 1)
      val set = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i < m) {
        set.add(s.substring(i, math.min(i + n, s.length)))
        i += 1
      }
      val out = new Array[String](set.size)
      set.toArray(out)
      out
    }
  })

  /** MinHash signature: `numHashes` independent permutations simulated by
    * salted xxhash64, each taking the min over the shingle set. */
  def minHashSignature(shingles: Column, numHashes: Int = 128): Column =
    minHashSignatureFromHashes(transform(shingles, s => xxhash64(s)), numHashes)

  /** MinHash signature over PRE-HASHED shingles: each permutation re-mixes
    * the 8-byte long instead of re-hashing the full shingle string — hash
    * each string once, mix 128 times (the standard one-hash minhash layout).
    * Callers should materialize the hashed-shingle array as its own column so
    * it is computed once, not once per permutation lambda. */
  def minHashSignatureFromHashes(shingleHashes: Column, numHashes: Int = 128): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingleHashes, h => xxhash64(h, i))))

  /** One-hash minhash signature as one primitive loop: permutation p's value
    * is min over shingle hashes h of splitmix64(h ^ seed(p)). The nested
    * higher-order expression form ([[minHashSignatureFromHashes]]) is
    * interpreted and allocates a fresh boxed array per permutation; the UDF
    * runs unboxed — the signature stage is interpreter-bound, not I/O-bound. */
  private def minHashSigUdf(numHashes: Int) = udf((hs: Array[Long]) => {
    val out = new Array[Long](numHashes)
    var p = 0
    while (p < numHashes) {
      val seed = Similarity.mix64(p.toLong)
      var mn = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = Similarity.mix64(hs(i) ^ seed)
        if (v < mn) mn = v
        i += 1
      }
      out(p) = mn
      p += 1
    }
    out
  })

  // ---------------- portable minhash (oracle-verifiable twin) ----------------

  /** Prime modulus for the portable linear-congruential permutations. */
  private[graft] val PermPrime = 2147483647L // 2^31 - 1

  /** Deterministic permutation coefficients: a_p in [1, P-1], b_p in [0, P-1]
    * derived from the splitmix64 finalizer. Fixed constants (not a hash
    * computed at query time) so an independent SQL oracle can embed the same
    * literals. */
  private[graft] val permA: Array[Long] =
    Array.tabulate(128)(p => (Similarity.mix64(2L * p) & 0x7FFFFFFFL) % (PermPrime - 1) + 1)
  private[graft] val permB: Array[Long] =
    Array.tabulate(128)(p => (Similarity.mix64(2L * p + 1) & 0x7FFFFFFFL) % PermPrime)

  /** Fused portable shingle-hash + one-hash minhash signature: md5 each
    * shingle (leading 60 bits mod 2^31-1, the same value
    * `conv(substring(md5(s),1,15),16,10) % P` yields in SQL), then all
    * permutation minima in one pass — one primitive UDF call per document
    * instead of an interpreted per-shingle md5 HOF plus a second UDF
    * (the HOF tax documented in ARCHITECTURE.md). Exact integer arithmetic
    * any engine reproduces bit-for-bit: h < 2^31 and a_p < 2^31 keep every
    * a_p*h + b_p below 2^62 — no overflow. */
  private def minHashSigFromShinglesUdf(numHashes: Int) = udf((shingles: Array[String]) => {
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val d = md.digest(shingles(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var k = 0
      while (k < 8) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      val h = (v >>> 4) % PermPrime
      var p = 0
      while (p < numHashes) {
        val x = (permA(p) * h + permB(p)) % PermPrime
        if (x < mins(p)) mins(p) = x
        p += 1
      }
      i += 1
    }
    mins
  })

  /** Portable (md5 + linear-congruential) minhash signature over a
    * caller-built shingle array — the [[minHashSigFromShinglesUdf]] core
    * exposed for the ops tier (record linkage bands CHAR shingles of a
    * noisy string key through the same SQL-replayable machinery). */
  private[ops] def portableSigFromShingles(shingles: Column, numHashes: Int): Column = {
    require(numHashes >= 1 && numHashes <= permA.length,
      s"numHashes must be in [1, ${permA.length}], got $numHashes")
    minHashSigFromShinglesUdf(numHashes)(shingles)
  }

  /** [[portableBandKeys]] over an explicit signature column. */
  private[ops] def portableBandKeysFor(sig: Column, numBands: Int,
      rowsPerBand: Int): Seq[Column] =
    (0 until numBands).map { b =>
      concat_ws("_", slice(sig, b * rowsPerBand + 1, rowsPerBand))
    }

  /** Candidate pairs from a banded (id, band, bucket) frame — the shared
    * core of every LSH family here. `maxBucket <= 0` (default) is the
    * plain bucket self-join: all intra-bucket pairs, volume quadratic in
    * bucket size. `maxBucket > 0` is the 100 TB hot-bucket hardening: a
    * bucket larger than the cap is, by LSH construction, a pile of
    * high-similarity documents (mass-duplicated spam, mirrored
    * boilerplate), so instead of B^2 verify pairs it emits a STAR — its
    * min-id member paired with every other member (B-1 rows).
    *
    * PRECISE semantics of the trade: star pairs still pass the exact
    * verify, so a pile member whose similarity TO THE MIN-ID MEMBER is
    * below threshold drops out of the dup graph even if it cleared the
    * threshold against some other pile member (chained similarity). For
    * the piles the cap targets — identical or near-identical floods,
    * where every member verifies against every member — the star closes
    * the same component and nothing is lost; for a bucket of merely
    * chained similarity the cap trades tail members for the B^2 bound.
    * That is why it is OPT-IN, why production runs exact-dup collapse
    * first, and why sub-cap buckets are byte-identical to the uncapped
    * plan. Candidates carry ids only either way. */
  private[ops] def bandedCandidates(banded: DataFrame, maxBucket: Int): DataFrame = {
    val left = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val right = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    if (maxBucket <= 0) {
      left.hint("shuffle_hash").join(right, Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
    } else {
      // The bucket histogram is SCALE-SHAPED (one row per non-empty
      // (band, bucket) — grows with the corpus), so it must never ride a
      // broadcast: every join against it is pinned shuffle_hash. Without
      // the hint AQE's runtime size estimate can elect to broadcast the
      // filtered stats side, and at the 100x rung that build OOMs the
      // driver (measured: capped 100x linkage run, 24M banded rows).
      val stats = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("__bn"), min("id").as("__rep"))
      val small = stats.filter(col("__bn") <= maxBucket)
        .select("band", "bucket")
      val smallPairs = left.hint("shuffle_hash")
        .join(small.hint("shuffle_hash"), Seq("band", "bucket"), "left_semi")
        .join(right, Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val starPairs = banded
        .join(stats.filter(col("__bn") > maxBucket).hint("shuffle_hash"),
          Seq("band", "bucket"))
        .filter(col("id") =!= col("__rep")) // __rep = min(id), so rep < id
        .select(col("__rep").as("id_a"), col("id").as("id_b"))
      smallPairs.unionByName(starPairs).distinct()
    }
  }

  /** Shared candidate+verify frame of the PORTABLE banded pipeline:
    * (id_a, id_b, sh_a, sh_b) for every banded candidate pair, shingle
    * sets joined back for exact verification. Factored out so the Jaccard
    * and containment verifies share one candidate generation.
    * `maxBucket` routes oversized band buckets through the star collapse
    * of [[bandedCandidates]]. */
  private def portableVerifyFrame(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numBands: Int, rowsPerBand: Int,
      maxBucket: Int = 0): DataFrame = {
    val withSig = minHashWithSigPortable(df, idCol, textCol, shingleSize,
      numBands * rowsPerBand)
    val banded = withSig
      .select(col("id"),
        posexplode(array(portableBandKeys(numBands, rowsPerBand): _*))
          .as(Seq("band", "bucket")))
    val candidates = bandedCandidates(banded, maxBucket)
    val shA = withSig.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val shB = withSig.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    candidates.join(shA, "id_a").join(shB, "id_b")
  }

  /** MinHash + LSH near-duplicate pairs with PORTABLE hashing: md5-derived
    * shingle hashes and linear-congruential permutations instead of
    * xxhash64, band buckets as plain signature strings instead of hashed
    * longs — every stage (shingling, one-hash signatures, band blocking,
    * exact-Jaccard verify) is reproducible in an independent SQL engine, so
    * the WHOLE pipeline is verifiable against the DuckDB oracle end-to-end.
    * The production variant ([[minHashLSH]]) keeps xxhash64 (Spark-native,
    * codegen'd, much cheaper than a cryptographic hash); the plan shape
    * (ids-only candidate shuffle, join-back verify) is identical.
    * Token-less documents are excluded (their single shingle would be the
    * degenerate empty string). */
  def minHashLSHPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.6,
      maxBucket: Int = 0
  ): DataFrame =
    portableVerifyFrame(df, idCol, textCol, shingleSize, numBands, rowsPerBand,
      maxBucket)
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** CONTAINMENT near-duplicates over the same portable banded candidates:
    * containment = |A∩B| / min(|A|, |B|) — the fraction of the SMALLER
    * document's shingles present in the larger. Catches doc-inside-doc
    * pairs (quotes, concatenations, boilerplate-wrapped copies) whose
    * Jaccard sits below any dedup threshold because the containing
    * document is longer.
    *
    * Candidates still come from MINHASH banding (which estimates Jaccard),
    * so the DEFAULT banding is widened to 64 bands x 2 rows: a fully
    * contained pair at size ratio 2 has Jaccard ~0.5, where 2-row bands
    * collide with probability 1-(1-0.25)^64 ~ 1-1e-8 (the 16x8 near-dup
    * grid would collide ~6% of the time — useless for containment). The
    * price is more low-Jaccard candidates reaching the exact verify —
    * ids-only rows, pruned there. Pairs at extreme size ratios (Jaccard
    * -> 0) still need a different candidate generator (shingle the
    * shorter side and probe); the verify is exact on every candidate and
    * oracle-replayable either way. */
  def containmentPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBands: Int = 64,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      maxBucket: Int = 0
  ): DataFrame =
    portableVerifyFrame(df, idCol, textCol, shingleSize, numBands, rowsPerBand,
      maxBucket)
      .withColumn("__mn",
        least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .withColumn("containment",
        when(col("__mn") === 0.0, lit(0.0))
          .otherwise(size(array_intersect(col("sh_a"), col("sh_b")))
            .cast("double") / col("__mn")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")

  /** Stage 1 of the PORTABLE pipeline: (id, shingles, sig), checkpointed —
    * md5-derived shingle hashes so an independent SQL engine reproduces the
    * signatures bit-for-bit. Token-less documents are excluded.
    *
    * PUBLIC because this is the frame a production pipeline PERSISTS: write
    * it once per corpus (parquet), then feed it to
    * [[incrementalNearDupsFromSigs]] per ingest batch so each batch costs
    * work proportional to the increment, never to the corpus. */
  def minHashWithSigPortable(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, numHashes: Int): DataFrame = {
    require(numHashes <= permA.length, s"at most ${permA.length} portable permutations")
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(col("id"))
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("__toks")) > 0)
      .withColumn("shingles", wordShinglesUdf(shingleSize)(col("__toks")))
      .withColumn("sig", minHashSigFromShinglesUdf(numHashes)(col("shingles")))
      .drop("text", "__toks")
      .localCheckpoint(false)
  }

  /** Portable band keys: each band's slice of the signature as a string —
    * ONE definition (delegates to [[portableBandKeysFor]]) so the encoding
    * the SQL oracles replay cannot drift between the dedup and linkage
    * callers. */
  private def portableBandKeys(numBands: Int, rowsPerBand: Int): Seq[Column] =
    portableBandKeysFor(col("sig"), numBands, rowsPerBand)

  /** Incremental (ingest-time) near-dup: flags each NEW document whose best
    * match in the EXISTING corpus clears `threshold`, via banded-minhash
    * candidates verified with exact Jaccard. Candidates pair new docs
    * against corpus buckets ONLY — corpus x corpus pairs are never
    * generated, so a daily increment costs work proportional to the
    * increment (plus one corpus signature pass that a production pipeline
    * persists once and reuses per batch). Returns (id, match_id, jaccard):
    * one row per flagged new doc with its best match (max jaccard,
    * tie -> min corpus id). Portable md5 hashing end-to-end, so the whole
    * pipeline is oracle-reproducible (same machinery as
    * [[minHashLSHPortable]]). */
  def incrementalNearDupsPortable(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.6
  ): DataFrame =
    incrementalNearDupsFromSigs(newDocs,
      minHashWithSigPortable(corpus, idCol, textCol, shingleSize,
        numBands * rowsPerBand),
      idCol, textCol, shingleSize, numBands, rowsPerBand, threshold)

  /** Stored-signature incremental near-dup: `corpusSigs` is the PERSISTED
    * (id, shingles, sig) frame from [[minHashWithSigPortable]] — the shape a
    * production signature store holds in parquet. Only the increment is
    * tokenized/signed per call, so batch cost is proportional to the
    * increment (plus the candidate-bucket join); the corpus is never
    * re-signed. Fails loud (raise_error) on a store built with a different
    * signature length than numBands*rowsPerBand — silent wrong-bucket keys
    * would zero the recall. Identical output to
    * [[incrementalNearDupsPortable]] on the same inputs (spec-pinned). */
  /** Shared cross-set candidate+verify frame for the signature-store
    * paths: (id, match_id, sh_n, sh_o) for every banded candidate pairing
    * a new doc against a store doc — ids-only candidates, the increment
    * side builds the (smaller) hash table, shingles joined back for the
    * exact verify. One copy of the store guard, banding, and join shape
    * so the Jaccard and containment scorers cannot drift. */
  private def fromSigsVerifyFrame(
      newDocs: DataFrame, storeSigs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, numBands: Int,
      rowsPerBand: Int): DataFrame = {
    val numHashes = numBands * rowsPerBand
    require(Set("id", "shingles", "sig").subsetOf(storeSigs.columns.toSet),
      s"storeSigs must carry (id, shingles, sig) from minHashWithSigPortable; " +
        s"got ${storeSigs.columns.mkString(", ")}")
    val sigNew = minHashWithSigPortable(newDocs, idCol, textCol, shingleSize, numHashes)
    val sigOld = storeSigs.withColumn("sig",
      when(size(col("sig")) === numHashes, col("sig"))
        .otherwise(raise_error(concat(
          lit(s"signature store length != $numHashes (bands*rows): "),
          size(col("sig")).cast("string")))))
    def banded(s: DataFrame, as: String) = s.select(col("id").as(as),
      posexplode(array(portableBandKeys(numBands, rowsPerBand): _*))
        .as(Seq("band", "bucket")))
    val candidates = banded(sigOld, "match_id")
      .join(banded(sigNew, "id").hint("shuffle_hash"), Seq("band", "bucket"))
      .select("id", "match_id").distinct()
    val shNew = sigNew.select(col("id"), col("shingles").as("sh_n"))
    val shOld = sigOld.select(col("id").as("match_id"), col("shingles").as("sh_o"))
    candidates.join(shNew, "id").join(shOld, "match_id")
      // a doc present in BOTH the increment and the store (a replayed
      // ingest batch) would otherwise match itself at score 1.0 and mask
      // its true best EXTERNAL match
      .filter(col("id") =!= col("match_id"))
  }

  /** Best store match per new doc: max score, tie -> smallest store id.
    * row_number over (score desc, match_id asc) rather than
    * max(struct(score, -match_id)): the negation trick only works for
    * numeric ids — on string ids Spark casts -id to double, yields null,
    * and every match_id silently nulls out. The window shuffles the same
    * candidate-sized frame the groupBy did. */
  private def bestMatchPerId(scored: DataFrame, scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col(scoreCol).desc, col("match_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("match_id"), col(scoreCol))
  }

  def incrementalNearDupsFromSigs(
      newDocs: DataFrame,
      corpusSigs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.6
  ): DataFrame =
    bestMatchPerId(
      fromSigsVerifyFrame(newDocs, corpusSigs, idCol, textCol,
          shingleSize, numBands, rowsPerBand)
        .withColumn("jaccard", jaccard(col("sh_n"), col("sh_o")))
        .filter(col("jaccard") >= threshold),
      "jaccard")

  /** Directional CONTAINMENT of STORE documents inside new documents, from
    * a persisted signature store: for each new doc, its best store match
    * by |S_store ∩ S_doc| / |S_store| — the fraction of the store document
    * present in the new one. THE decontamination direction: a benchmark
    * question quoted inside a long training document scores ~1.0 here
    * while its Jaccard is diluted to nothing by the document's length.
    *
    * Bands are 64x2 over the SAME 128-hash signatures the Jaccard paths
    * persist (numBands * rowsPerBand must equal the store's signature
    * length) — one signature store serves both banding grids, so adding
    * containment costs no re-signing. Candidates are cross-set only and
    * carry ids; the exact verify joins shingles back. */
  def containmentFromSigs(
      newDocs: DataFrame,
      storeSigs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBands: Int = 64,
      rowsPerBand: Int = 2,
      threshold: Double = 0.8
  ): DataFrame =
    bestMatchPerId(
      fromSigsVerifyFrame(newDocs, storeSigs, idCol, textCol,
          shingleSize, numBands, rowsPerBand)
        .withColumn("containment",
          when(size(col("sh_o")) === 0, lit(0.0))
            .otherwise(size(array_intersect(col("sh_o"), col("sh_n"))).cast("double")
              / size(col("sh_o")).cast("double")))
        .filter(col("containment") >= threshold),
      "containment")

  /** INGEST-ORDER near-dup log: one row per document of an id-ordered
    * corpus, flagging whether ANY earlier document (smaller id = earlier
    * arrival) clears `threshold`, with the best such match (max jaccard,
    * tie -> min id). The per-document verdict an ingest pipeline logs at
    * admission time — this is its batch/backfill face, and the exact
    * semantics the streaming fold in
    * [[graft.streaming.StreamOps.onlineNearDupIngest]] reproduces
    * micro-batch by micro-batch (StreamOpsSpec pins fold == batch).
    * Portable md5 hashing end-to-end (same machinery as
    * [[minHashLSHPortable]], whose pairs id_a < id_b are exactly the
    * earlier-vs-later pairs), so the whole log is oracle-reproducible.
    * Returns (id, is_dup, match_id, match_jaccard); undetected/token-less
    * docs log (0, -1, 0.0). */
  def onlineNearDupLog(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.6
  ): DataFrame = {
    val pairs = minHashLSHPortable(df, idCol, textCol, shingleSize,
      numBands, rowsPerBand, threshold)
    val best = bestMatchPerId(
      pairs.select(col("id_b").as("id"), col("id_a").as("match_id"),
        col("jaccard")),
      "jaccard")
    df.select(col(idCol).as("id"))
      .join(best, Seq("id"), "left")
      .select(col("id"),
        when(col("match_id").isNotNull, 1L).otherwise(0L).as("is_dup"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        coalesce(col("jaccard"), lit(0.0)).as("match_jaccard"))
  }

  /** INCREMENTAL connected components: fold a batch of NEW dup edges into
    * an existing (id, comp) label table without recomputing corpus-wide
    * CC — the daily-ingest companion to [[incrementalNearDupsFromSigs]]
    * (whose output pairs are exactly the `newEdges` here). Labels keep
    * the [[connectedComponents]] contract (comp = min id of the cluster),
    * so incremental and from-scratch labeling are indistinguishable.
    *
    * Plan (work proportional to the INCREMENT, never the corpus):
    *   1. map each new edge's endpoints to their current representative
    *     (existing comp, or own id for never-seen docs) — one join of the
    *     increment against the label table;
    *   2. run CC on the REPRESENTATIVE graph (one node per touched
    *     cluster — increment-sized);
    *   3. the resulting rep -> newRep map is a BROADCAST relabel applied
    *     to the label table (untouched rows pass through) and to the new
    *     docs. The corpus-sized table is read and written once, never
    *     shuffled (broadcast hash join), which is the property that
    *     survives a billion-row label store. */
  def incrementalComponents(labels: DataFrame, newEdges0: DataFrame): DataFrame = {
    // the increment is consumed three times (two endpoint-rep joins + the
    // rep-edge build); pin it — increment-sized by contract
    val newEdges = newEdges0.select("id_a", "id_b").localCheckpoint(false)
    val reps = labels.select(col("id"), col("comp"))
    // distinct BEFORE the join-back: a hot endpoint (1000 edges into one
    // store doc — exactly what the star collapse emits) would otherwise
    // fan the edge join out quadratically in its multiplicity
    def repOf(side: String) = newEdges.select(col(side).as("id")).distinct()
      .join(reps, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("rep"))
    val ra = repOf("id_a"); val rb = repOf("id_b")
    val repEdges = newEdges
      .join(ra.select(col("id").as("id_a"), col("rep").as("rep_a")), "id_a")
      .join(rb.select(col("id").as("id_b"), col("rep").as("rep_b")), "id_b")
      .select(col("rep_a").as("id_a"), col("rep_b").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val relabel = connectedComponents(repEdges) // (id = old rep, comp = new rep)
      .filter(col("id") =!= col("comp"))
      .select(col("comp").as("__new"), col("id").as("__old"))
    val updatedExisting = labels
      .join(broadcast(relabel), labels("comp") === col("__old"), "left")
      .select(labels("id"), coalesce(col("__new"), labels("comp")).as("comp"))
    // never-seen docs that the increment connected: their rep is their own
    // id, so the relabel map covers them directly
    val newDocs = ra.unionByName(rb)
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .distinct()
      .join(broadcast(relabel), col("rep") === col("__old"), "left")
      .select(col("id"), coalesce(col("__new"), col("rep")).as("comp"))
    updatedExisting.unionByName(newDocs)
  }

  /** BEST-OF-CLUSTER canonical selection: instead of keeping each dup
    * cluster's min-id member (the [[connectedComponents]] label — cheap
    * but arbitrary), keep its highest-`scoreCol` member (tie -> min id) —
    * what a production dedup actually materializes, because the survivor
    * should be the best-quality copy, not the earliest-crawled one.
    * `df` must carry idCol + scoreCol; `pairs` is any (id_a, id_b) dup
    * frame. Returns (id, cluster_rep, keep) for EVERY doc — keep = 1 for
    * the cluster's champion and for singletons — so both the keep and the
    * drop lists fall out of one frame. Plan: CC over the pairs (ids
    * only), one score join for cluster MEMBERS only (the tiny side), one
    * max-struct aggregate per cluster; the corpus itself is never
    * shuffled. */
  def bestOfCluster(df: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs.select("id_a", "id_b"))
    val members = comp.join(
        df.select(col(idCol).as("id"), col(scoreCol).as("__sc")), "id")
      .localCheckpoint(false) // consumed by champions + the flag join
    // row_number over (score desc, id asc), NOT max(struct(score, -id)):
    // the negation trick only works for numeric ids — on string ids the
    // unary minus casts to double and throws under ANSI (the
    // bestMatchPerId lesson, r15 review). The window shuffles only the
    // cluster MEMBERS — the tiny side.
    val champW = org.apache.spark.sql.expressions.Window
      .partitionBy("comp").orderBy(col("__sc").desc, col("id").asc)
    val champions = members
      .withColumn("__rk", row_number().over(champW))
      .filter(col("__rk") === 1)
      .select(col("comp"), col("id").as("__champ"))
    val flagged = members.join(champions, "comp")
      .select(col("id"), col("comp").as("cluster_rep"),
        when(col("id") === col("__champ"), 1L).otherwise(0L).as("keep"))
    df.select(col(idCol).as("id"))
      .join(flagged, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_rep"), col("id")).as("cluster_rep"),
        coalesce(col("keep"), lit(1L)).as("keep"))
  }

  /** Estimated Jaccard from two MinHash signatures. */
  def minHashSimilarity(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") /
      size(sigA).cast("double")

  /** Exact Jaccard of two (distinct) shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double"))

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: shingle -> minhash(numBands*rowsPerBand) -> per-band bucket
    * key -> self-join per (band, bucket) -> exact-Jaccard verify >= threshold.
    * The self-join is per-bucket (tiny groups), so the shuffle key cardinality
    * is ~numBands * numDocs and no quadratic blowup occurs; at 100 TB this is
    * the textbook dedup layout (band buckets ~ constant size, AQE handles the
    * occasional hot bucket).
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, distinct.
    */
  def minHashLSH(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.6
  ): DataFrame = {
    val withSig = minHashWithSig(df, idCol, textCol, shingleSize, numBands * rowsPerBand)
    minHashPairsFromSig(withSig, numBands, rowsPerBand, threshold)
  }

  /** Stage 1 of [[minHashLSH]]: (id, shingles, sig), checkpointed.
    * repartition: parallelize past a single-file scan. localCheckpoint: a
    * planner barrier — without it CollapseProject substitutes the shingle
    * expression (regex!) into the downstream lambdas, exploding the per-row
    * cost; it also materializes signatures once for the three downstream
    * uses. Tokens are bound as their OWN column before shingling (see
    * wordShingles perf note: an inlined tokenizer re-runs per shingle), and
    * the permutations run as one primitive-loop UDF over the hashed
    * shingles — each shingle string is hashed exactly once. */
  def minHashWithSig(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(col("id"))
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      // token-LESS docs (CJK/punctuation-only/empty) must drop BEFORE
      // shingling: wordShinglesUdf returns the degenerate [""] for an empty
      // token array, which would give every such doc an identical signature
      // — one hot bucket, ~N^2/2 false jaccard-1.0 pairs (the portable
      // twin has always filtered here; this keeps the two paths aligned)
      .filter(size(col("__toks")) > 0)
      .withColumn("shingles", wordShinglesUdf(shingleSize)(col("__toks")))
      .filter(size(col("shingles")) > 0)
      .withColumn("__sh_hashes", transform(col("shingles"), s => xxhash64(s)))
      .withColumn("sig", minHashSigUdf(numHashes)(col("__sh_hashes")))
      .drop("text", "__toks", "__sh_hashes")
      .localCheckpoint(false)

  /** Stage 2 of [[minHashLSH]]: band-bucket candidates + exact-Jaccard verify
    * over the checkpointed signature frame. `maxBucket` routes oversized
    * band buckets through the star collapse of [[bandedCandidates]]. */
  def minHashPairsFromSig(withSig: DataFrame, numBands: Int, rowsPerBand: Int,
      threshold: Double, maxBucket: Int = 0): DataFrame = {
    // band key = hash of the band's slice of the signature
    val bandSigs = (0 until numBands).map { b =>
      xxhash64(concat_ws("_", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)), lit(b))
    }
    // candidates carry ids only — shingle arrays are joined back AFTER the
    // bucket join + distinct, so big arrays never ride the candidate shuffle
    val banded = withSig
      .select(col("id"), posexplode(array(bandSigs: _*)).as(Seq("band", "bucket")))
    val candidates = bandedCandidates(banded, maxBucket)
    val shA = withSig.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val shB = withSig.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash of the token multiset: bit b of the result is 1 iff the
    * sum over tokens of sign(bit b of xxhash64(token)) is positive. Pure
    * higher-order expressions (no UDF). */
  def simHash(text: Column): Column =
    simHashFromHashes(transform(TextAnalysis.tokens(text), t => xxhash64(t)))

  /** SimHash over PRE-HASHED tokens. The 64 bit-sum aggregates each
    * reference the hash array; callers should materialize it as its own
    * column so tokenization+hashing run once, not 64 times (CollapseProject
    * keeps multi-referenced non-cheap aliases intact). */
  def simHashFromHashes(tokenHashes: Column): Column =
    // Scala-side loop over the 64 bits (shift amounts must be literal Ints)
    (0 until 64).map { b =>
      when(
        aggregate(tokenHashes, lit(0L),
          (s, h) => s + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L)) > 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** SimHash over pre-hashed tokens as one unboxed loop — bit-identical to
    * [[simHashFromHashes]] (same per-bit sign sums over the same hashes). */
  private val simHashUdf = udf((hs: Array[Long]) => {
    val counts = new Array[Int](64)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  })

  /** Hamming distance between two 64-bit SimHashes. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on maxHamming+1 signature chunks (a pair
    * within Hamming distance h of 64 bits must agree on at least one of h+1
    * disjoint chunks — pigeonhole; the default h = 3 is the classic 4x16
    * grid), verify with exact Hamming distance. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 0): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(col("id"))
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      // token-less docs would all get the degenerate signature 0 and pair
      // up at hamming 0 — exclude them, as the portable variant always has
      .filter(size(col("__toks")) > 0)
      .withColumn("__th", transform(col("__toks"), t => xxhash64(t)))
      // bit-identical to simHashFromHashes (same token hashes, same sign
      // sums) but one unboxed loop instead of 64 interpreted aggregates
      .select(col("id"), simHashUdf(col("__th")).as("sig"))
      .localCheckpoint(false)
    simHashPairsFromSigs(sigs, maxHamming, maxBucket)
  }

  /** SimHash near-dup pairs over PORTABLE token hashes: 60-bit values from
    * the leading 15 hex digits of md5(token), reproducible in any engine —
    * so the WHOLE pipeline (bit-majority signature, pigeonhole chunk
    * blocking, exact Hamming verify) is verifiable against an independent
    * SQL oracle; the production variant keeps xxhash64 (Spark-internal,
    * much cheaper than a cryptographic hash). Token-less documents are
    * excluded (their signature would be the degenerate 0). */
  def simHashPairsPortable(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 0): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(col("id"))
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("__toks")) > 0)
      .withColumn("__th",
        transform(col("__toks"), t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")))
      .select(col("id"), simHashUdf(col("__th")).as("sig"))
      .localCheckpoint(false)
    simHashPairsFromSigs(sigs, maxHamming, maxBucket)
  }

  /** `maxBucket > 0` is the same hot-bucket hardening as
    * [[bandedCandidates]], with the same precise trade (see there): star
    * pairs still pass the Hamming verify, so only piles whose members all
    * verify against the min-id member — identical/near-identical floods,
    * the case the cap targets — keep their full component; chained-
    * similarity buckets may shed tail members. Signatures are 8 bytes, so
    * they ride the candidate shuffle directly (cheaper than a join-back). */
  private def simHashPairsFromSigs(sigs: DataFrame, maxHamming: Int,
      maxBucket: Int = 0): DataFrame = {
    // pigeonhole completeness: a pair within hamming distance h of 64 bits
    // must agree on at least one of h+1 disjoint chunks, so the chunk
    // count is SIZED FROM maxHamming (h+1 near-equal-width slices; the
    // default h = 3 gives exactly the classic 4x16 grid). A fixed 4-chunk
    // grid at h > 3 would silently lose pairs whose h differing bits land
    // one per chunk — candidates the exact verify claims to accept.
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63] for 64-bit signatures (got $maxHamming)")
    val nChunks = maxHamming + 1
    val chunks = (0 until nChunks).map { c =>
      val lo = c * 64 / nChunks
      val width = (c + 1) * 64 / nChunks - lo
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftright(col("sig"), lo).bitwiseAND(mask)
    }
    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(array(chunks: _*)).as(Seq("chunk", "key")))
    val l = chunked.select(col("chunk"), col("key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = chunked.select(col("chunk"), col("key"), col("id").as("id_b"), col("sig").as("sig_b"))
    val candidates =
      if (maxBucket <= 0)
        l.hint("shuffle_hash").join(r, Seq("chunk", "key"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
      else {
        val stats = chunked.groupBy("chunk", "key")
          .agg(count(lit(1)).as("__bn"), min("id").as("__rep"),
            min_by(col("sig"), col("id")).as("__rep_sig"))
        val small = stats.filter(col("__bn") <= maxBucket).select("chunk", "key")
        val smallPairs = l.hint("shuffle_hash")
          .join(small.hint("shuffle_hash"), Seq("chunk", "key"), "left_semi")
          .join(r, Seq("chunk", "key"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
        val starPairs = chunked
          .join(stats.filter(col("__bn") > maxBucket), Seq("chunk", "key"))
          .filter(col("id") =!= col("__rep")) // __rep = min(id), so rep < id
          .select(col("__rep").as("id_a"), col("id").as("id_b"),
            col("__rep_sig").as("sig_a"), col("sig").as("sig_b"))
        smallPairs.unionByName(starPairs)
      }
    candidates.distinct()
      .withColumn("hamming", hammingDistance(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ---------------- n-gram Jaccard (blocked exact) ----------------

  /** Exact character-n-gram Jaccard pairs above `threshold`, blocked by a key
    * (e.g. language).
    *
    * Candidate generation uses prefix filtering (AllPairs / SSJoin): order
    * every document's gram set by ascending global document frequency
    * (rarest first) and explode only the first
    * floor((1-t)*|A|)+1 grams — two sets with J >= t must share at least one
    * prefix gram under any consistent global order, so there are NO false
    * negatives and the final output is identical to the naive quadratic join.
    * Rare-first ordering keeps the per-gram buckets small, so the candidate
    * join stays near-linear instead of quadratic per block — the property
    * that makes this run on a 100 TB corpus. Candidates (plus an exact-safe
    * size-ratio check: t*|A| <= |B| <= |A|/t) are verified with one exact
    * intersection; |A ∪ B| = |A| + |B| - |A ∩ B|.
    *
    * SCALE BOUNDARY, API-ENFORCED: on low-entropy corpora (bounded gram
    * universe — e.g. short fixed-format keys) prefix filtering cannot keep
    * the buckets small and the candidate join goes super-linear; the
    * round-9 ladder measured that length-band blocking does NOT rescue
    * that regime. Above `guardMinDocs` documents a one-pass pre-join
    * estimate (sum of prefix-group sizes squared) fails loud when the
    * projected volume exceeds `maxCandidatesPerDoc * nDocs`, directing the
    * caller to banded MinHash candidate generation instead. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 3, threshold: Double = 0.5,
      gramBroadcastMaxBytes: Long = 256L << 20,
      lengthBandBlocking: Boolean = false,
      maxCandidatesPerDoc: Double = 4096.0,
      guardMinDocs: Long = 65536L): DataFrame = {
    val g = ngramGramsStage(df, idCol, textCol, blockCol, n)
    val ordered = ngramOrderedStage(g)
    // Verify-path switch: broadcast the per-doc gram table when it fits,
    // hash-partitioned joins when it doesn't (the 100 TB path). Sizing reads
    // the ordered frame, which is localCheckpoint'ed and must materialize
    // before candidates/verify either way — the agg runs over cached blocks,
    // it does not add a pipeline pass. The verify stage ships TWO
    // independent broadcasts (the id_a and id_b sides), so the estimate is
    // doubled: the threshold bounds TOTAL broadcast bytes per executor.
    val sz = ordered.agg(sum(col("sz")).cast("long"), count(lit(1))).head()
    val nDocs = sz.getLong(1)
    val gramBytes =
      2L * ((if (sz.isNullAt(0)) 0L else sz.getLong(0)) * 8L + sz.getLong(1) * 48L)
    // SCALE GUARD (the API-enforced form of the measured boundary below):
    // exact AllPairs goes super-linear when the gram universe is bounded —
    // many documents share the same few prefix grams and the candidate
    // join's hot groups cross-product. The round-9 ladder proved
    // length-band blocking does NOT rescue that regime (fixed-length keys
    // share one band), so a low-entropy corpus must hit a WALL WITH A
    // MESSAGE here, not launch a quadratic join on a 1000-executor
    // cluster. Estimate before the join: the symmetric candidate volume is
    // at most sum over (block, prefix gram) of group_size^2 — ONE count
    // aggregate over the long-prefix explode (same row count the join
    // would stream anyway, no verify work). DECIMAL(38,0) product per the
    // overflow convention. The default budget (4096 candidates/doc,
    // pre-dedup upper bound) is ~50x the healthy documents-table reading
    // at sf0.1 (~84/doc) and catches a quadratic corpus at any size: n
    // docs sharing one prefix gram estimate n^2/n = n per doc.
    // `guardMinDocs` skips the estimate pass below cluster scale: a
    // sub-65k corpus is bounded even fully quadratic (the verify stage is
    // the cost ceiling there), and the estimate's fixed job overhead
    // (~0.4 s) would tax every small interactive run for a hazard only
    // large corpora have. Above the cutoff the one counting pass is noise
    // against the scan it protects.
    if (maxCandidatesPerDoc.isFinite && nDocs >= math.max(1L, guardMinDocs)) {
      val est = candidateVolumeEstimate(ordered, threshold)
      if (est > maxCandidatesPerDoc * nDocs) throw new IllegalStateException(
        f"ngramJaccardPairs: estimated candidate volume $est%.3g over $nDocs docs " +
          f"(${est / nDocs}%.0f/doc) exceeds maxCandidatesPerDoc=$maxCandidatesPerDoc%.0f — " +
          "the corpus' prefix-gram universe is too low-entropy for exact " +
          "AllPairs at this scale (the join would be near-quadratic). Route " +
          "candidate generation through the banded MinHash path " +
          "(Dedup.minhashLshPairs) and keep this exact path for verification, " +
          "or raise maxCandidatesPerDoc explicitly to accept the cost.")
    }
    ngramVerifyStage(
      ngramCandidatesStage(ordered, threshold, lengthBandBlocking),
      ordered, threshold,
      broadcastGrams = gramBytes <= gramBroadcastMaxBytes)
  }

  /** Indexing-prefix length floor((1-t)*sz)+1 — shared by the candidate
    * join's pb side and the pre-join volume guard so the two cannot drift. */
  private def longPrefixLen(threshold: Double): Column =
    (floor(col("sz") * (1 - threshold)) + 1).cast("int")

  /** The scale guard's candidate-volume estimate: sum over (block,
    * long-prefix gram) of group_size^2. UPPER BOUND on the candidate
    * join's streamed pair volume: per (block, gram) group the join emits
    * |short-prefix side| * |long-prefix side| rows, the short-prefix rows
    * are a SUBSET of the long-prefix rows for every document
    * (shortPrefixLen <= longPrefixLen), so each group contributes at most
    * c^2 — and the candidates stage's direction/size-ratio/positional
    * filters only shrink it from there (the inequality is spec-pinned on
    * random corpora in OpsSpec). DECIMAL(38,0) product per the overflow
    * convention. */
  private[graft] def candidateVolumeEstimate(ordered: DataFrame,
      threshold: Double): Double =
    ordered
      .select(col("block"),
        explode(slice(col("grams"), lit(1), longPrefixLen(threshold))).as("gram"))
      .groupBy("block", "gram").agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast("decimal(38,0)") * col("c")).cast("double"))
      .head() match { case r => if (r.isNullAt(0)) 0.0 else r.getDouble(0) }

  /** Stage 1: (block, id, grams, sz), checkpointed (barrier + reuse for the
    * gram-df pass and the re-order pass). */
  private[graft] def ngramGramsStage(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int): DataFrame =
    df.select(col(blockCol).as("block"), col(idCol).as("id"),
      charShinglesUdf(n)(lower(col(textCol))).as("grams"))
      .repartition(col("id"))
      .withColumn("sz", size(col("grams")))
      .localCheckpoint(false)

  /** Stage 2: grams re-ordered by ascending global document frequency
    * (rare-first total order), checkpointed (reused by prefixes + both
    * verify sides). Grams travel as 64-bit xxhash64 values from here on:
    * every downstream comparison is equality, a hash collision can only
    * INFLATE an intersection, so the no-false-negatives guarantee is intact
    * (a false positive needs a 64-bit collision inside one candidate pair,
    * p ~ 1e-15 per pair), and long arrays avoid per-pair UTF8String->String
    * conversion churn in the verify UDF. */
  private[graft] def ngramOrderedStage(g: DataFrame): DataFrame = {
    val exploded = g
      .select(col("block"), col("id"), col("sz"), explode(col("grams")).as("gram"))
      .select(col("block"), col("id"), col("sz"), xxhash64(col("gram")).as("gh"))
    val gramDf = exploded.groupBy("gh").agg(count(lit(1)).as("df"))
    exploded
      .join(gramDf, "gh")
      .groupBy("block", "id", "sz")
      .agg(transform(array_sort(collect_list(struct(col("df"), col("gh")))),
        s => s.getField("gh")).as("grams"))
      // value-sorted binary packing for the verify UDF: a byte array crosses
      // the UDF boundary as one memcpy (an array<bigint> costs a per-element
      // boxed conversion per candidate pair)
      .withColumn("gbin", packSortedLongs(col("grams")))
      .localCheckpoint(false)
  }

  /** Packs a long array into value-SORTED little-endian bytes (driver for
    * the merge-intersect verify). */
  private val packSortedLongs = udf((hs: Array[Long]) => {
    val a = hs.clone() // sort must not mutate the deserializer's buffer
    java.util.Arrays.sort(a)
    val bb = java.nio.ByteBuffer.allocate(a.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(a)
    bb.array()
  })

  /** Stage 3: candidate pairs sharing >= 1 prefix gram within the block,
    * with the exact-safe size-ratio check AND the PPJoin positional filter:
    * both gram arrays follow the same (rare-first) total order, so for a
    * shared gram at 0-based positions (pa, pb) the overlap is at most
    * min(sz_a - pa, sz_b - pb) counting the shared gram itself — applied
    * per collision and OR-ed by the distinct, the first (shallowest) shared
    * gram carries the largest bound, so a truly-overlapping pair always
    * survives: still provably NO false negatives (Xiao et al., PPJoin). The
    * Jaccard constraint J >= t forces overlap >= t/(1+t) * (sz_a + sz_b). */
  private[graft] def ngramCandidatesStage(ordered: DataFrame, threshold: Double,
      lengthBandBlocking: Boolean = false): DataFrame = {
    // ASYMMETRIC prefixes (the PPJoin indexing-prefix refinement): direct
    // every pair small -> large by (sz, id). For the smaller record the
    // partner is at least as large, so the overlap bound tightens to
    // alpha >= 2t/(1+t) * sz_a, and the prefix-filter lemma ("the globally
    // smallest shared gram sits within the first sz - alpha + 1 grams of
    // BOTH sorted arrays") shrinks its exploded prefix to
    // (1-t)/(1+t)*sz + 1 — vs the symmetric (1-t)*sz + 1, a ~40% cut in
    // join-input rows and so in every hot gram-group's cross product. No
    // filter power is lost: the post-join positional filter enforced
    // exactly this bound already; it now prunes BEFORE the join on the
    // side that can. The larger side keeps the full prefix (its partner
    // may be as small as t * sz_b, where the bound degenerates to the
    // symmetric one). Candidate-volume growth on the 30x ladder drops
    // accordingly (ARCHITECTURE.md, round-8 ladder section).
    val longPrefix = longPrefixLen(threshold)
    val shortPrefix =
      (floor(col("sz") * ((1 - threshold) / (1 + threshold))) + 1).cast("int")
    val pa0 = ordered.select(col("block"), col("id").as("id_a"),
      col("sz").as("sz_a"),
      posexplode(slice(col("grams"), lit(1), shortPrefix)).as(Seq("pos_a", "gram")))
    val pb0 = ordered.select(col("block"), col("id").as("id_b"),
      col("sz").as("sz_b"),
      posexplode(slice(col("grams"), lit(1), longPrefix)).as(Seq("pos_b", "gram")))
    // Opt-in LENGTH-BAND blocking — the finer-blocking knob for corpora
    // where one gram group spans many sizes: band(sz) = floor(ln sz /
    // ln(1/t)). Soundness of the THREE probe arms (own, -1, -2): with
    // x(s) = computedLog(s)/L, a qualifying pair has
    // x(sz_b) - x(sz_a) <= 1 + eps (exact gap <= ln(1/t)/L = 1, plus
    // ~1e-15 relative log error), and for any reals
    // floor(b) - floor(a) <= (b - a) + 1 < 2 + eps, so the computed band
    // gap is at most 2 — NOT 2 independent +-1 wobbles: the bound comes
    // from the difference, not per-side flooring. The gap is >= 0 because
    // sz_a <= sz_b and the per-value computation is identical (log's
    // <=1-ulp error cannot invert order when true gaps are >= 1/sz >>
    // ulp for any realistic gram count). Hence gap in {0, 1, 2} — exactly
    // the probe set — and output is provably identical either way
    // (spec-pinned); on near-uniform corpora the only cost is the 3x
    // probe fanout, which is why it is opt-in.
    //
    // MEASURED SCALE BOUNDARY (round-9 ladder, ARCHITECTURE.md): the band
    // prune is lossless at every rung (identical pair sets 1x/10x/30x)
    // and buys -24%/-10% at 1x/10x, but it does NOT fix the super-linear
    // bounded-gram-universe regime — on fixed-length keys (equal-length
    // heads) every doc shares a band and candidate growth is unchanged
    // (~0% at 30x). Length banding discriminates only where the corpus
    // has LENGTH SPREAD. For >= 10x corpora on short low-entropy keys,
    // route candidate generation through the minhash-banded path and keep
    // this exact AllPairs path for within-block verification.
    val (pa, pb, bandCond) =
      if (!lengthBandBlocking) (pa0, pb0, lit(true))
      else {
        require(threshold < 1.0,
          "lengthBandBlocking needs threshold < 1 (at 1.0 use exact dedup)")
        val logInv = math.log(1.0 / threshold)
        val ba = pa0.withColumn("__band",
          floor(log(col("sz_a").cast("double")) / logInv))
        val bb = floor(log(col("sz_b").cast("double")) / logInv)
        val pbB = pb0.withColumn("__probe",
          explode(array(bb, bb - 1, bb - 2)))
        (ba, pbB, col("__band") === col("__probe"))
      }
    val minOverlap =
      ceil((col("sz_a") + col("sz_b")).cast("double") * (threshold / (1 + threshold)))
    pa.hint("shuffle_hash").join(pb,
        pa("block") === pb("block") && pa("gram") === pb("gram") && bandCond &&
          (col("sz_a") < col("sz_b") ||
            (col("sz_a") === col("sz_b") && col("id_a") < col("id_b"))) &&
          col("sz_b") * threshold <= col("sz_a") &&
          least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) >= minOverlap)
      // canonicalize to id_a < id_b: the small->large direction may put
      // the larger id on the a side
      .select(least(col("id_a"), col("id_b")).as("ida"),
        greatest(col("id_a"), col("id_b")).as("idb"))
      .select(col("ida").as("id_a"), col("idb").as("id_b")).distinct()
  }

  /** Intersection size of two value-sorted packed long arrays — one linear
    * merge over two byte buffers; the inputs cross the UDF boundary as plain
    * memcpys (the interpreted `array_intersect` expression costs ~3us/pair
    * and array<bigint>/array<string> inputs add per-element conversion
    * churn; both dominate a multi-million-pair verify). */
  private val interSizeUdf = udf((ab: Array[Byte], bb: Array[Byte]) => {
    val a = java.nio.ByteBuffer.wrap(ab).order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer()
    val b = java.nio.ByteBuffer.wrap(bb).order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer()
    val an = a.limit(); val bn = b.limit()
    var i = 0; var j = 0; var c = 0
    while (i < an && j < bn) {
      val x = a.get(i); val y = b.get(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  })

  /** Stage 4: exact verify on the (small) candidate set only.
    *
    * Two join layouts, same output:
    * - `broadcastGrams = true`: broadcast the per-doc gram tables; joining
    *   them hash-partitioned would shuffle ~KB-sized gram arrays once per
    *   CANDIDATE (millions of rows), while the doc table itself is tiny by
    *   comparison — candidates stream through both joins in one stage with
    *   no array exchange. The small-to-mid-corpus fast path.
    * - `broadcastGrams = false`: hash-partition candidates and the gram
    *   table by id (shuffle-hash joins, gram side builds). Each gram array
    *   crosses the wire once per candidate instead of once per executor,
    *   but NO executor ever holds the whole gram table — the path for a
    *   corpus whose gram table exceeds broadcast capacity. Candidates-per-
    *   doc shrinks as the corpus grows, so the per-candidate shuffle stays
    *   proportional to output size.
    * `ngramJaccardPairs` picks by estimated gram-table size. */
  private[graft] def ngramVerifyStage(candidates: DataFrame, ordered: DataFrame,
      threshold: Double, broadcastGrams: Boolean = true): DataFrame = {
    val ga = ordered.select(col("id").as("id_a"), col("gbin").as("g_a"), col("sz").as("sz_a"))
    val gb = ordered.select(col("id").as("id_b"), col("gbin").as("g_b"), col("sz").as("sz_b"))
    val inter = interSizeUdf(col("g_a"), col("g_b")).cast("double")
    val withGrams =
      if (broadcastGrams) candidates.join(broadcast(ga), "id_a").join(broadcast(gb), "id_b")
      else candidates.join(ga.hint("shuffle_hash"), "id_a")
        .join(gb.hint("shuffle_hash"), "id_b")
    withGrams
      .withColumn("__inter", inter)
      .withColumn("__union", (col("sz_a") + col("sz_b")).cast("double") - col("__inter"))
      .withColumn("jaccard",
        when(col("__union") === 0.0, lit(0.0)).otherwise(col("__inter") / col("__union")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // ---------------- duplicate clustering ----------------

  /** Connected components over an undirected pair set `(id_a, id_b)` —
    * the step that turns near-dup PAIRS into duplicate CLUSTERS (one keep
    * per cluster), finishing every LSH dedup pipeline. Returns
    * `(id, component)` with `component` = smallest id in the component.
    *
    * Algorithm: min-label propagation with pointer jumping — each round a
    * node takes the min of its own label, its neighbors' labels (edge
    * step), and its label's label (shortcut step, the pointer-jumping
    * halving of Shiloach-Vishkin-style CC), so convergence is
    * O(log diameter) rounds even on pathological chains; duplicate graphs
    * (piles of tiny near-cliques) finish in 2-3. Each round is two
    * shuffle-joins + one shuffled min-aggregate with map-side combine —
    * the MapReduce-CC layout of Kiveris et al., which is the 100 TB-safe
    * shape (no driver-side graph, state is one (id, label) row per node).
    * Each round's frame is localCheckpoint'ed: the lineage would otherwise
    * double per iteration, and the convergence check reuses the
    * materialized result instead of recomputing the chain. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // both directions via one explode, not a self-union: a union evaluates
    // the (possibly expensive — minhash verify) edge subtree twice before
    // the checkpoint materializes
    val sym = edges.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(false)
    // initialization already performs the first edge step (comp0 =
    // min(id, neighbors)) — same single shuffle a distinct-init would cost,
    // one fewer propagation round
    var labels = sym.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("comp"))
      .localCheckpoint(false)
    // INTEGRAL ids: labels are min-monotone per node, so the exact decimal
    // sum is a fixpoint signature (unchanged sum <=> no label changed) —
    // one agg job per round. NON-integral ids (string doc keys, the common
    // ER case — r15 review: the unconditional decimal cast threw ANSI
    // CAST_INVALID_INPUT deep inside a job): exact change detection via a
    // left-anti probe of the round's (id, comp) pairs against the previous
    // round's — isEmpty stops at the first changed row, and both frames
    // are checkpointed, so the probe is one cheap scan.
    val integralIds = {
      import org.apache.spark.sql.types._
      labels.schema("comp").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _: DecimalType => true
        case _ => false
      }
    }
    def sig(df: DataFrame): java.math.BigDecimal = {
      // empty frame sums to SQL NULL — normalize so a zero-edge input
      // (e.g. an increment that adds nothing) converges instead of NPEing
      val s = df.agg(sum(col("comp").cast("decimal(38,0)"))).collect().head.getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSig = if (integralIds) sig(labels) else null
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val viaEdges = sym.join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .select(col("src").as("id"), col("comp"))
      val viaShortcut = labels.select(col("id"), col("comp").as("mid"))
        .join(labels.select(col("id").as("mid"), col("comp")), "mid")
        .select(col("id"), col("comp"))
      val updated = labels.unionByName(viaEdges).unionByName(viaShortcut)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint(false)
      if (integralIds) {
        val curSig = sig(updated)
        converged = curSig.compareTo(prevSig) == 0
        prevSig = curSig
      } else {
        converged = updated.join(labels, Seq("id", "comp"), "left_anti").isEmpty
      }
      labels = updated
      iter += 1
    }
    labels
  }

  // ---------------- embedding near-dup ----------------

  /** Embedding-cosine near-duplicate pairs via banded random-hyperplane LSH
    * + exact cosine verify. A pair is a candidate if ANY of the `bands`
    * signatures (of `planes` sign bits each) collides — with b bands of p
    * planes, a pair at angle theta survives with prob
    * 1 - (1 - (1 - theta/pi)^p)^b, so high-cosine pairs are found with
    * near-certainty while far pairs rarely collide. Candidates carry ids
    * only through the bucket join and the distinct; vectors are joined back
    * for the exact verify (same layout as [[minHashLSH]]), so embeddings
    * never ride the candidate shuffle.
    *
    * Default (planes=14, bands=10) is tuned for near-duplicate detection
    * (cosine >= ~0.99): such pairs are recovered with miss probability
    * < 1e-7, while random-pair bucket collisions — the candidate-volume
    * driver — drop ~30x vs the wider 8x8 grid (measured at sf0.1: 88k -> 2.8k
    * candidates for the same 200 true pairs). Pairs barely at cosine 0.95
    * survive with p ~0.92 per the formula above; callers needing high recall
    * at lower cosine should widen bands (e.g. planes=10, bands=14). */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 14, bands: Int = 10,
      maxBucket: Int = 0): DataFrame = {
    val s = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val banded = s.select(col("id"),
      posexplode(Similarity.bandBuckets(col("vec"), planes, bands))
        .as(Seq("band", "bucket")))
      .select("id", "band", "bucket")
    val candidates = bandedCandidates(banded, maxBucket)
    val va = s.select(col("id").as("id_a"), col("vec").as("v_a"))
    val vb = s.select(col("id").as("id_b"), col("vec").as("v_b"))
    candidates
      .join(va.hint("shuffle_hash"), "id_a")
      .join(vb.hint("shuffle_hash"), "id_b")
      .withColumn("cosine", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  // ---------------- segment-level dedup with reassembly ----------------

  /** Sub-document exact dedup with reassembly — the sentence/paragraph-level
    * pass of Lee et al. (ACL'22 §4.1, "ExactSubstr": later occurrences of a
    * repeated span are removed, the first survives), at fixed-width word-
    * segment granularity (the delimiter-free analogue of sentence splits;
    * pass the tokenization you need). Every segment occurrence is keyed by
    * its text; only the globally FIRST occurrence (min (doc_id, pos)) is
    * kept — both cross-document and within-document repeats drop — and each
    * document's surviving segments reassemble in position order.
    *
    * Returns (doc_id, n_segs, n_kept, text_kept). Deterministic end-to-end
    * (no hashing in the dedup key: segments compare as text), so the whole
    * pipeline is oracle-verifiable.
    *
    * Scale layout: one explode to (doc, pos, segment) rows — |tokens|/width
    * rows, linear; first-occurrence via a hash-aggregate keyed by the
    * segment (min of the (doc_id, pos) struct — map-side combine, no
    * per-segment window sort); one join back; reassembly is a per-doc
    * sort_array of bounded per-doc state.
    *
    * `hashJoinKeys = true` keys the frequency aggregate and join by
    * md5(segment) instead of the segment text — the 100 TB knob when
    * profile shows segment bytes dominating the two shuffles (the
    * first-occurrence table then carries 32-hex-char keys; the reassembly
    * side keeps the text it already owns). Output is identical up to
    * 128-bit md5 collisions (~n^2/2^129 for n distinct segments —
    * negligible below ~2^60 segments); the gate runs the text mode so the
    * oracle needs no hash convention, and the spec pins both modes equal. */
  /** `(doc_id, pos, seg, __k)` — every doc split into `segmentWords`-word
    * segments in position order; `__k` is the join/grouping key (the raw
    * segment, or its md5 when `hashJoinKeys` keeps long text off the
    * shuffle). Shared by [[dedupSegments]] and [[removeFrequentSegments]]
    * so the two ops cannot disagree on segmentation. */
  private def segmentFrame(base: DataFrame, segmentWords: Int,
      hashJoinKeys: Boolean): DataFrame =
    base
      .filter(col("__text").isNotNull && length(col("__text")) > 0)
      .select(col("doc_id"), split(col("__text"), " ").as("__toks"))
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0), floor((size(col("__toks")) - 1) / segmentWords).cast("int")),
          i => array_join(slice(col("__toks"), i * segmentWords + 1, lit(segmentWords)), " ")
        )).as(Seq("pos", "seg")))
      .withColumn("__k", if (hashJoinKeys) md5(col("seg")) else col("seg"))

  /** Reassemble per-doc output from a flagged segment frame: total/kept
    * counts plus the kept text in position order, with one row per INPUT
    * doc (empty docs come back with zero segments). */
  private def reassembleKept(base: DataFrame, flagged: DataFrame): DataFrame = {
    val perDoc = flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_segs"),
      sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(when(col("__keep"), struct(col("pos"), col("seg"))))),
        s => s.getField("seg")), " ").as("text_kept"))
    base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segs"), lit(0L)).as("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  def dedupSegments(df: DataFrame, idCol: String, textCol: String,
      segmentWords: Int = 10, hashJoinKeys: Boolean = false): DataFrame = {
    require(segmentWords > 0, s"segmentWords must be positive, got $segmentWords")
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    val segs = segmentFrame(base, segmentWords, hashJoinKeys)
    val firsts = segs.groupBy("__k")
      .agg(min(struct(col("doc_id"), col("pos"))).as("__f"))
    val kept = segs.join(firsts.hint("shuffle_hash"), "__k")
      .withColumn("__keep",
        col("doc_id") === col("__f.doc_id") && col("pos") === col("__f.pos"))
    reassembleKept(base, kept)
  }

  /** Frequent-segment (boilerplate) removal, the MassiveText / RefinedWeb
    * line-dedup rule: any segment whose CORPUS-WIDE occurrence count
    * exceeds `maxFreq` is dropped from EVERY document — including the
    * first occurrence, unlike [[dedupSegments]], because a segment
    * repeated across many unrelated docs is template boilerplate
    * (headers, footers, cookie banners), not content anyone should keep
    * one copy of. Returns the [[dedupSegments]] shape:
    * `(doc_id, n_segs, n_kept, text_kept)`, one row per input doc.
    *
    * Scale layout: one map-side-combined count over segment keys, then
    * the over-threshold keys — a heavy-hitter set of at most
    * totalSegs/(maxFreq+1) keys, in practice far fewer — joined back
    * against the segment frame as a null-flag join. The corpus-size
    * segment frame is never self-joined; with `hashJoinKeys` the shuffled
    * key is a 32-char md5, so long segments never leave their map task.
    * `broadcastBoiler` controls the flag join: true broadcasts the
    * over-threshold set (right for ordinary corpora, where boilerplate is
    * a thin heavy tail); on a duplicate-saturated corpus — where most
    * segments cross the threshold and the set approaches the worst-case
    * bound — set it false for a shuffle-hash flag join instead of an
    * oversized broadcast. Decisions are identical either way (spec'd). */
  def removeFrequentSegments(df: DataFrame, idCol: String, textCol: String,
      segmentWords: Int = 10, maxFreq: Long = 2,
      hashJoinKeys: Boolean = false, broadcastBoiler: Boolean = true): DataFrame = {
    require(segmentWords > 0, s"segmentWords must be positive, got $segmentWords")
    require(maxFreq >= 1, s"maxFreq must be >= 1, got $maxFreq")
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    val segs = segmentFrame(base, segmentWords, hashJoinKeys)
      .localCheckpoint(false) // consumed by the frequency count AND the flag join
    val boiler = segs.groupBy("__k").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxFreq)
      .select(col("__k"), lit(true).as("__boiler"))
    val boilerSide = if (broadcastBoiler) broadcast(boiler) else boiler.hint("shuffle_hash")
    val kept = segs.join(boilerSide, Seq("__k"), "left")
      .withColumn("__keep", col("__boiler").isNull)
    reassembleKept(base, kept)
  }

  // ---------------- semantic (cluster-scoped) dedup ----------------

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * arXiv:2303.09540): a k-means coarse quantizer partitions the corpus
    * into `nlist` cells, exact pairwise cosine runs WITHIN each cell only,
    * pairs at/above `threshold` connect into duplicate clusters (pointer-
    * jumping [[connectedComponents]]), and each cluster keeps its min-id
    * representative. Returns one row per input id:
    * (id, component, keep) — `component` = min id of the duplicate cluster
    * (own id if unclustered), `keep` = (component == id).
    *
    * Versus [[embeddingNearDups]] (banded LSH): LSH finds high-cosine pairs
    * corpus-wide with tunable recall; SemDeDup trades cross-cell pairs away
    * (a dup pair split across cells is missed — the published method accepts
    * this) for EXACT within-cell discovery at any threshold, including ones
    * far below the LSH sweet spot where banding recall collapses.
    *
    * Scale layout: quantizer training is the same sample-capped pass as
    * [[Similarity.ivfTopK]] (bounded driver work regardless of corpus
    * size); cell assignment is map-only; the pairwise stage is a self-join
    * keyed by cell — vectors ride it by necessity (every member meets every
    * other), so per-cell cost is quadratic in cell size. Size
    * `nlist ~ corpus / targetCellSize` (SemDeDup uses ~1e5 clusters at
    * billions of docs); the auto default only serves sub-1e6 corpora.
    * `nlist = 1` disables clustering — exact all-pairs over the whole
    * input, the bounded oracle anchor (constant work only if the caller
    * bounds the input). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = -1, window: Int = 0,
      trainRowsTarget: Long = 100000, seed: Long = 42): DataFrame = {
    require(window >= 0, s"window must be >= 0, got $window")
    require(window == 0 || nlist != 1,
      "windowed mode needs a clustered pass (nlist != 1): the window orders by " +
        "distance to the assigned centroid, which nlist=1 does not compute")
    val s = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
    val assigned =
      if (nlist == 1) s.withColumn("cell", lit(0)).withColumn("dist", lit(0.0))
      else {
        val (train, total) = Similarity.sampleVectors(s, "vec", trainRowsTarget, seed)
        val nl = Similarity.autoNlist(nlist, total)
        val centers = Similarity.lloyd(train, nl, seed)
        val cellDist = Similarity.cellWithDistUdf(centers)
        // barrier: both pair-join sides (and the windowed path's rank) read
        // this frame — without it the nlist x dim assignment UDF re-runs
        // per consumer (the ARCHITECTURE localCheckpoint convention)
        s.withColumn("__cd", cellDist(col("vec")))
          .select(col("id"), col("vec"),
            col("__cd._1").as("cell"), col("__cd._2").as("dist"))
          .localCheckpoint(false)
      }
    val pairs =
      if (window <= 0) {
        // exact within-cell: every member meets every other — quadratic in
        // cell size, so size nlist ~ corpus/targetCellSize
        val a = assigned.select(col("cell"), col("id").as("id_a"), col("vec").as("v_a"))
        val b = assigned.select(col("cell"), col("id").as("id_b"), col("vec").as("v_b"))
        // shuffle-hash both sides: cell-keyed co-location, no sort of the
        // vector payload, no broadcast of a corpus-sized side
        a.hint("shuffle_hash").join(b.hint("shuffle_hash"), Seq("cell"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("cosine", Similarity.cosine(col("v_a"), col("v_b")))
          .filter(col("cosine") >= threshold)
          .select("id_a", "id_b")
      } else {
        // windowed within-cell (the LINEAR-cost 100 TB mode): members sort
        // by distance to their centroid and each compares only to its next
        // `window` neighbors in that order — near-duplicates have near-equal
        // centroid distance, so they are adjacent; cost is |corpus| * window
        // cosine evals and one sort, immune to hot-cell quadratic blowup.
        // Approximate: a true pair more than `window` ranks apart is missed
        // (the standard sorted-sliding-window trade; raise `window` or
        // nlist granularity for tighter recall).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cell").orderBy(col("dist"), col("id"))
        val ranked = assigned.withColumn("rn", row_number().over(w))
          .localCheckpoint(false) // consumed by both candidate sides + both vector join-backs
        // ids-only candidates through the banded self-join (the exploded side
        // multiplies rows by `window`, so vectors must NOT ride it — same
        // layout rule as minHashLSH/embeddingNearDups); vectors join back once
        val ca = ranked.select(col("cell"), col("id").as("__ia"),
          explode(sequence(col("rn") + 1, col("rn") + window)).as("rn_b"))
        val cb = ranked.select(col("cell"), col("rn").as("rn_b"), col("id").as("__ib"))
        val cand = ca.hint("shuffle_hash").join(cb.hint("shuffle_hash"), Seq("cell", "rn_b"))
          .select(least(col("__ia"), col("__ib")).as("id_a"),
            greatest(col("__ia"), col("__ib")).as("id_b"))
        val va = ranked.select(col("id").as("id_a"), col("vec").as("v_a"))
        val vb = ranked.select(col("id").as("id_b"), col("vec").as("v_b"))
        cand.join(va.hint("shuffle_hash"), "id_a")
          .join(vb.hint("shuffle_hash"), "id_b")
          .withColumn("cosine", Similarity.cosine(col("v_a"), col("v_b")))
          .filter(col("cosine") >= threshold)
          .select("id_a", "id_b")
      }
    val comps = connectedComponents(pairs)
    s.select("id").join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
      .withColumn("keep", col("component") === col("id"))
  }

  // ---------------- duplicated-span statistics ----------------

  /** 60-bit portable hash of each word n-gram of `toks` (leading 15 hex
    * digits of md5 of the space-joined gram — reproducible in any engine,
    * same convention as [[simHashPairsPortable]]), one per start position. */
  private def gramHashUdf(n: Int) = udf((toks: Array[String]) => {
    val md = java.security.MessageDigest.getInstance("MD5")
    val cnt = math.max(toks.length - n + 1, 0)
    val out = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
      val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var k = 0
      while (k < 8) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
      out(i) = v >>> 4 // top 60 bits == conv(substring(md5(g),1,15),16,10)
      i += 1
    }
    out
  })

  /** Cross-document duplicated n-gram span statistics — the exact-substring
    * dedup signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL'22), at word-gram granularity: for each document
    * with at least one word n-gram, the fraction of its n-grams occurring in
    * >= `minDocs` DISTINCT documents, and the fraction of its tokens covered
    * by at least one such duplicated gram (the "how much of this doc is
    * copied corpus-wide" number a filtering pipeline thresholds on).
    *
    * Scale layout: one explode to (doc, pos, gramHash) rows where the hash
    * is 8 bytes (grams never ride a shuffle as strings); gram document
    * frequencies via one hash-aggregate over the hash; a hash-partitioned
    * join back (the frequency table is usually far too large to broadcast
    * at corpus scale); coverage via a bounded n-per-duplicated-gram explode
    * of token positions. Every stage is a shuffle on an 8-byte key — no
    * suffix array, no driver state, linear in corpus size. */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Int = 2): DataFrame = {
    val grams = df
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= n)
      // outer: >= n tokens guarantee >= 1 gram; dodges the generate-filter
      // UDF clone (r19)
      .select(col("doc_id"), posexplode_outer(gramHashUdf(n)(col("__toks"))).as(Seq("pos", "h")))
      .localCheckpoint(false) // consumed by the frequency agg AND the join-back
    val freq = grams.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
    val j = grams.join(freq.hint("shuffle_hash"), "h")
      .select(col("doc_id"), col("pos"), (col("nd") >= minDocs).as("dup"))
    val perDoc = j.groupBy("doc_id").agg(
      count(lit(1)).as("n_grams"),
      sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_grams"))
    val covered = j.filter(col("dup"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_cov"))
    perDoc.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        (col("n_dup_grams").cast("double") / col("n_grams")).as("dup_gram_frac"),
        (coalesce(col("n_cov"), lit(0L)).cast("double") /
          (col("n_grams") + lit(n - 1))).as("covered_token_frac"))
  }

  /** CHARACTER-granular ExactSubstr dedup — the full Lee et al. ACL'22
    * mechanism at arbitrary boundaries (r15, closing the one well-known
    * dedup arm without a row): every character covered by a length-
    * `minLen` window whose content occurs MORE THAN ONCE corpus-wide
    * (within or across documents) is removed, except the globally FIRST
    * occurrence (min (doc_id, pos)) of each window, which survives — so
    * a repeated substring of ANY length >= minLen is kept once and
    * scrubbed everywhere else, regardless of word/segment boundaries
    * (the case [[dedupSegments]]' fixed segmentation and
    * [[duplicatedSpanStats]]' word grams cannot express).
    *
    * EQUIVALENCE to the suffix-array formulation: a repeated substring of
    * length >= minLen occurs duplicated iff each of its length-minLen
    * windows occurs duplicated, so the union of non-first duplicated
    * window spans IS the suffix-array method's removal set. The suffix
    * array is the single-NODE data structure for finding those windows
    * without hashing; the distributed equivalent here fingerprints every
    * window with the engine-wide portable 60-bit md5 (one hash per
    * character position — the same linear work, as 8-byte shuffle keys).
    * A 60-bit collision can only OVER-remove (it marks a unique window
    * duplicated); at w windows the expected extra-removal mass is
    * ~w^2/2^61 spans — negligible below ~10^8 windows, and the gate runs
    * the oracle-exact regime. Positions are CODEPOINTS (Spark substring
    * semantics == DuckDB substr), so the whole derivation replays in SQL.
    *
    * Returns one row per input doc: (doc_id, n_chars, n_chars_kept,
    * kept_md5) — the [[removeDuplicatedSpans]] shape at character
    * granularity. Docs shorter than minLen have no window and keep
    * everything; null text keeps as the empty string with n_chars null.
    *
    * Scale layout: one explode to (doc, pos, windowHash) rows — |chars|
    * rows of 8-byte keys, LINEAR (the shuffle is ~9x corpus bytes; the
    * price of arbitrary-boundary exactness — word grams divide it by the
    * mean token length, which is why both arms exist); one hash-aggregate
    * for first-occurrence + multiplicity; one hash-partitioned join back;
    * a bounded per-doc coverage list (<= the doc's char count) and one
    * merge-walk scrub per doc. No suffix array, no driver state. */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 30): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val winHash = udf((s: String) => {
      if (s == null) Array.empty[Long]
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        TextAnalysis.gramHashesRange(s, minLen, { (b, off, len) =>
          md.reset()
          md.update(b, off, len)
          val d = md.digest()
          var v = 0L
          var j = 0
          while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
          (v << 4) | ((d(7) & 0xf0L) >> 4) // == conv(substr(md5,1,15),16,10)
        })
      }
    })
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .localCheckpoint(false) // window pass + reassembly join share one scan
    // docs shorter than one window emit no fingerprints (gramHashes'
    // short-text fallback would hash the WHOLE short doc — exact-dup
    // semantics that belong to dedupExact, not the >= minLen contract)
    val wins = base
      .filter(col("__text").isNotNull && length(col("__text")) >= minLen)
      .select(col("doc_id"),
        // posexplode_OUTER (r19, the emb_pca lesson): a plain generate lets
        // InferFiltersFromGenerate clone the per-character md5 UDF into an
        // inferred size()>0 filter — every document hashed twice. The
        // filter above guarantees >= 1 window, so outer rows are identical.
        posexplode_outer(winHash(col("__text"))).as(Seq("pos", "h")))
      .localCheckpoint(false) // first-occurrence agg + the join-back
    val firsts = wins.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("__f"),
        count(lit(1)).as("__n"))
    // one row per duplicated non-first WINDOW START — the scrub expands
    // each start to its [start, start + minLen) interval itself, so the
    // per-position explode (a minLen-x row blow-up on the duplicated
    // mass) and its distinct never materialize; (doc_id, pos) rows are
    // already unique (one window per position, firsts is unique per h)
    val covered = wins.join(firsts.hint("shuffle_hash"), "h")
      .filter(col("__n") >= 2 &&
        !(col("doc_id") === col("__f.doc_id") && col("pos") === col("__f.pos")))
      .groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("__cov"))
    // codepoint-aware scrub: a position cp is covered iff some duplicated
    // window start s has s <= cp < s + minLen — a merge-walk over the
    // sorted starts carrying the current coverage end
    val scrub = udf((s: String, cov: Array[Int]) => {
      if (s == null) SpanScrubbed(0, "")
      else {
        val sb = new java.lang.StringBuilder
        var kept = 0; var ci = 0; var covEnd = -1; var cp = 0; var i = 0
        while (i < s.length) {
          val code = s.codePointAt(i)
          while (cov != null && ci < cov.length && cov(ci) <= cp) {
            val e = cov(ci) + minLen
            if (e > covEnd) covEnd = e
            ci += 1
          }
          if (cp < covEnd) () // covered by some window
          else { sb.appendCodePoint(code); kept += 1 }
          i += Character.charCount(code)
          cp += 1
        }
        SpanScrubbed(kept, sb.toString)
      }
    })
    base.join(covered, Seq("doc_id"), "left")
      .withColumn("__s", scrub(col("__text"), col("__cov")))
      .select(col("doc_id"),
        length(col("__text")).cast("long").as("n_chars"),
        col("__s.n_kept").cast("long").as("n_chars_kept"),
        md5(col("__s.kept_text")).as("kept_md5"))
  }

  /** MATERIALIZE the exact-substring dedup decision (the removal step of
    * Lee et al. ACL'22, over [[duplicatedSpanStats]]'s signal): drop every
    * token covered by a word n-gram that occurs in >= `minDocs` distinct
    * documents, and reassemble what survives. Output one row per input
    * document: (doc_id, n_tokens, n_tokens_kept, kept_md5) with kept_md5 =
    * md5 of the space-joined surviving tokens — the content fingerprint an
    * independent engine reproduces, so the REWRITE itself is
    * oracle-verifiable, not just its statistics. Documents with < n tokens
    * produce no grams and keep everything. Token-stream reassembly (the
    * granularity the dedup operates at); original whitespace is
    * presentation, not dedup semantics.
    *
    * Scale layout: the span pipeline's stages unchanged (8-byte gram-hash
    * shuffles, hash-partitioned frequency join), plus one sorted
    * covered-position list per affected doc (bounded by the doc's token
    * count) and a single merge-walk UDF per document — no stage holds more
    * than one document's tokens in memory. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Int = 2): DataFrame = {
    val toks = df
      .select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .localCheckpoint(false) // reused by the gram pass AND the reassembly join
    val grams = toks.filter(size(col("__toks")) >= n)
      // outer: >= n tokens guarantee >= 1 gram; dodges the generate-filter
      // UDF clone (r19)
      .select(col("doc_id"), posexplode_outer(gramHashUdf(n)(col("__toks"))).as(Seq("pos", "h")))
    val freq = grams.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
    val covered = grams.join(freq.hint("shuffle_hash"), "h")
      .filter(col("nd") >= minDocs)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(sort_array(collect_list(col("p"))).as("__cov"))
    val scrub = udf((ts: Array[String], cov: Array[Int]) => {
      val sb = new java.lang.StringBuilder
      var kept = 0; var ci = 0; var i = 0
      val t = if (ts == null) Array.empty[String] else ts
      while (i < t.length) {
        if (cov != null && ci < cov.length && cov(ci) == i) ci += 1
        else {
          if (kept > 0) sb.append(' ')
          sb.append(t(i)); kept += 1
        }
        i += 1
      }
      SpanScrubbed(kept, sb.toString)
    })
    toks.join(covered, Seq("doc_id"), "left")
      .withColumn("__s", scrub(col("__toks"), col("__cov")))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"),
        col("__s.n_kept").cast("long").as("n_tokens_kept"),
        md5(col("__s.kept_text")).as("kept_md5"))
  }
}
