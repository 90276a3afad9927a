package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Structured Streaming support — a capability the reference lacks entirely
  * (it is batch-only; SURVEY §2.E). Streams get the same operator surface:
  * windowed aggregation with watermarks, sessionization via
  * flatMapGroupsWithState, and a streaming variant of the events pipeline.
  *
  * DP budget accounting over unbounded streams is an open research problem
  * (SURVEY §2.E), so the full accountant stays batch; the one DP operator
  * here, [[StreamOps.dpWindowedCount]], uses the per-release-budget shape
  * that sidesteps it (each window cell is its own epsilon-DP release;
  * cross-release composition is explicitly the caller's), which is how
  * production streaming DP counters are actually run.
  */
/** Typed-session records — top-level so their encoders stay codegen-compiled
  * (nested-in-object case classes silently drop encoders to interpreted). */
final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
final case class SessionSummary(user_id: Long, n_events: Long,
    first_type: String, last_type: String, duration_seconds: Long)
/** O(1) per-user session state — exactly the fields the emitted summary
  * needs. The r12 streaming review replaced the original List[SessionEvent]
  * state: a continuously-active user (who never times out) grew that list
  * without bound — the state store is per-key but not per-key-BOUNDED, and
  * an unbounded buffer is the classic mapGroupsWithState OOM at scale.
  * Tie-handling replicates the old stable sort by event time over arrival
  * order: a new event at exactly firstTs does NOT displace the first; one
  * at exactly lastTs DOES become the last. */
final case class SessionAcc(n: Long, firstTs: Long, firstType: String,
    lastTs: Long, lastType: String)

object StreamOps {

  /** Normalize an `events.ts` column to nanos-since-epoch as Long. The
    * generator has shipped ts as TIMESTAMP(NANOS) (readable only as raw
    * nanos via `spark.sql.legacy.parquet.nanosAsLong`) and as
    * timestamp[us]; every consumer (SparkEntry.events, the streaming
    * specs) routes through this ONE expression so the two shapes cannot
    * drift apart. Any other ts type fails loud rather than null-coercing
    * through a blind cast. Works on batch and streaming frames alike;
    * timestamp inputs assume a UTC session (SparkEntry.events enforces
    * it). */
  def tsToNanos(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "unix_micros(cast(ts as timestamp)) * 1000"))
      case dt => throw new IllegalArgumentException(
        s"unexpected events.ts type: $dt (expected nanos Long or timestamp)")
    }

  /** The events schema as it arrives on a stream (ts in epoch micros so the
    * parquet nanos quirk stays at the batch edge). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Tumbling-window aggregation with a watermark for late data: the
    * canonical streaming rollup (count + sum + users per event_type per
    * window).
    *
    * LATE-DATA CONTRACT (append mode — spec-pinned in StreamOpsSpec
    * "append-mode watermark"): the watermark after micro-batch N is
    * max(event time seen through batch N) - `watermark`; a window emits
    * exactly once, in the first batch whose watermark passes the window
    * END, and its state is then evicted. A late row arriving while its
    * window is still open (row ts >= current watermark) FOLDS into the
    * window and ships in the single emission; a late row arriving after
    * the watermark passed its window (row ts < watermark) is DROPPED —
    * silently, per engine semantics, which is why the ingest paths that
    * need loss accounting route through foreachBatch counters (the
    * [[onlineNearDupIngest]]-family pattern) instead. In complete/batch
    * mode the watermark
    * is a no-op and nothing drops (the batch==stream parity specs). */
  def windowedEventStats(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"), col("approx_users"))

  /** Stream-static enrichment: the event stream joined to a broadcast
    * static dimension keyed by user, then rolled up per (hour, segment) —
    * the classic enrich-then-aggregate. Stream-static joins are STATELESS
    * on the stream side (each micro-batch joins against the static frame;
    * no state store grows with it), which is exactly why dimension
    * lookups belong on this path rather than a stream-stream join: at
    * 100 TB/day of events the only per-executor cost is the broadcast
    * dim. Identical batch or streaming (the watermark is a streaming
    * no-op in batch); StreamOpsSpec proves stream==batch parity. */
  def enrichedWindowStats(
      events: DataFrame,
      dim: DataFrame,
      dimKey: String,
      segmentCol: String,
      windowLength: String = "1 hour",
      watermark: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(dim.select(col(dimKey).as("user_id"),
        col(segmentCol).as("segment"))), "user_id")
      .groupBy(window(col("ts"), windowLength), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value"))).cast("double").as("value_floor_sum"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("segment"), col("n_events"), col("value_floor_sum"))

  /** Session-window rollup: one row per (user, session), a session being a
    * maximal run of events whose inter-event gaps are < `gap`
    * (`session_window` — an event exactly at previous+gap starts a NEW
    * session). The operator is identical batch or streaming; in streaming
    * mode pass a watermark so closed sessions emit and their state is
    * reclaimed. */
  def sessionEventStats(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: Option[String] = None
  ): DataFrame = {
    val base = watermark.map(w => events.withWatermark("ts", w)).getOrElse(events)
    base.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value"))).cast("double").as("value_sum"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start"),
        col("n_events"), col("value_sum"))
  }

  /** Streaming dedup rollup: distinct users per (window, event_type).
    * `count(DISTINCT ...)` is unsupported on streams, so it is rewritten as
    * the canonical chained-stateful-operator form — watermarked
    * `dropDuplicates` keyed by (window, type, user), then a windowed count.
    * The window column carries event time, so both stateful stages evict
    * state at the watermark. Identical batch or streaming (in batch the
    * rewrite is exactly `count(DISTINCT user_id)`). */
  def windowedDistinctUsers(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: Option[String] = None
  ): DataFrame = {
    val base = watermark.map(w => events.withWatermark("ts", w)).getOrElse(events)
    base.withColumn("window", window(col("ts"), windowLength))
      // NULL users are excluded so the rewrite really equals batch
      // count(DISTINCT user_id), which skips NULLs; dropDuplicates alone
      // would keep one null row per cell and count it as a phantom user
      .filter(col("user_id").isNotNull)
      .dropDuplicates("window", "event_type", "user_id")
      .groupBy(col("window"), col("event_type"))
      .agg(count(lit(1)).as("distinct_users"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("distinct_users"))
  }

  /** Windowed distinct-count via the PORTABLE HLL sketch
    * ([[graft.ops.Sketches.hllObs]]): stage 1 keeps max-rho per (window,
    * event_type, bucket) — <= 64 state rows per cell, the mergeable-sketch
    * contract, vs dropDuplicates' one state row PER DISTINCT USER — and
    * stage 2 rolls the bucket maxima into the exact integer mass + raw
    * estimate. The same chained-stateful-agg shape as
    * [[windowedDistinctUsers]] (append mode + watermark in streaming), but
    * with BOUNDED state per cell: the streaming cardinality path that
    * survives a window with a hundred million distinct users. Deterministic
    * given the item set, so batch output is SQL-replayable and streaming
    * output must equal batch exactly (StreamOpsSpec). */
  def windowedApproxDistinct(
      events: DataFrame,
      itemCol: String = "user_id",
      keyCols: Seq[String] = Seq("event_type"),
      windowLength: String = "1 hour",
      watermark: Option[String] = None
  ): DataFrame = {
    import graft.ops.Sketches
    val base = watermark.map(w => events.withWatermark("ts", w)).getOrElse(events)
    val keyCs = keyCols.map(col)
    // stage 1 (stateful in streaming): per-bucket rho max; stage 2 is the
    // ONE shared estimator rollup in Sketches — not a hand copy, so the
    // linear-counting threshold/constants cannot drift from the batch path
    val perBucket = base.withColumn("window", window(col("ts"), windowLength))
      .withColumn("o", Sketches.hllObs(col(itemCol).cast("string")))
      .filter(col("o").isNotNull)
      .groupBy(col("window") +: keyCs :+ col("o.bucket").as("bucket"): _*)
      .agg(max(col("o.rho")).as("mx"))
    Sketches.hllEstimateFromBuckets(perBucket, col("window") +: keyCs)
      .select((Seq(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("hour")) ++ keyCs ++ Seq(
        col("approx_distinct").as("approx_users"), col("t_scaled"))): _*)
  }

  /** Reference mix for [[windowedMixDrift]]: (event_type, n_ref, tot_ref),
    * one row per category of `keyCol` — tiny, broadcast into the stream.
    * Production points this at last week's corpus; the gate points it at
    * the same table (drift of each hour against the whole-corpus mix).
    *
    * NULL categories fold to the sentinel category `"__null"` (the
    * categoricalDrift convention): a genuine category literally named
    * `__null` merges with NULL keys in both the reference and the drift
    * counts — accepted trade-off for keeping the join key a plain
    * codegen-friendly string. */
  def mixReference(df: DataFrame, keyCol: String): DataFrame = {
    // NULL categories fold to the same '__null' sentinel the drift join
    // side uses — a join on event_type never matches NULL = NULL, so an
    // unfolded null category in both sides would read n_ref = 0 and fire
    // the loudest spurious "category appeared" alert (the categoricalDrift
    // convention, CorpusOps)
    val c = df.groupBy(
        coalesce(col(keyCol).cast("string"), lit("__null")).as("event_type"))
      .agg(count(lit(1)).as("n_ref"))
      .localCheckpoint(false) // category-cardinality rows, consumed twice
    c.crossJoin(broadcast(c.agg(sum("n_ref").as("tot_ref"))))
  }

  /** Per-window MIX DRIFT against a static reference mix — the streaming
    * face of [[graft.ops.CorpusOps.categoricalDrift]]: for every (window,
    * event_type), the exact cross-multiplied deviation
    * |n_w * tot_ref - n_ref * tot_w| between the window's mix and the
    * reference's (BIGINT, no float math) — the per-hour "traffic mix
    * shifted" alert. The window total comes from a CHAINED stateful
    * aggregate (the [[windowedApproxDistinct]] shape) that carries the
    * per-type cells as a collected list — a linear agg->agg chain, because
    * the obvious counts-join-totals formulation is a stream-stream self
    * join Spark rejects. The reference joins in stream-static left, so a
    * type the reference has never seen still surfaces (n_ref = 0). State
    * per window is one row bounded by category cardinality. NULL
    * categories fold to the sentinel `"__null"` on both sides (see
    * [[mixReference]] for the trade-off). */
  def windowedMixDrift(
      events: DataFrame,
      ref: DataFrame,
      windowLength: String = "1 hour",
      watermark: Option[String] = None): DataFrame = {
    // tot_ref is a GLOBAL property of the static reference: it must not
    // come from the per-type left join, where a never-seen category gets
    // null -> 0 and its dev_x — the loudest drift signal, n_w * tot_ref —
    // would silently read 0. The reference is static and tiny by
    // contract, so one bounded driver read pins it as a literal.
    val totRef = ref.agg(coalesce(sum(col("n_ref")), lit(0L)))
      .head.getLong(0)
    val base = watermark.map(w => events.withWatermark("ts", w)).getOrElse(events)
    base.withColumn("window", window(col("ts"), windowLength))
      // same '__null' fold as mixReference so null categories COMPARE
      // against their reference count instead of missing the join
      .groupBy(col("window"),
        coalesce(col("event_type").cast("string"), lit("__null")).as("event_type"))
      .agg(count(lit(1)).as("n_w"))
      .groupBy(col("window"))
      .agg(collect_list(struct(col("event_type"), col("n_w"))).as("cells"),
        sum(col("n_w")).as("tot_w"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        explode(col("cells")).as("c"), col("tot_w"))
      .select(col("hour"), col("c.event_type").as("event_type"),
        col("c.n_w").as("n_w"), col("tot_w"))
      .join(broadcast(ref.select("event_type", "n_ref")), Seq("event_type"), "left")
      .select(col("hour"), col("event_type"), col("n_w"), col("tot_w"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        lit(totRef).as("tot_ref"),
        graft.ops.CorpusOps.crossDeviation(col("n_w"), lit(totRef),
          coalesce(col("n_ref"), lit(0L)), col("tot_w")).as("dev_x"))
  }

  /** Stream-stream event-attribution join: every (click, conversion) pair of
    * the same user with `conversion.ts` in [click.ts, click.ts + horizon] —
    * the canonical funnel/attribution primitive. The SAME plan runs batch or
    * streaming: in streaming mode pass `watermark` so Spark derives a state
    * eviction bound from watermark + the time-range predicate and each
    * side's join buffer stays proportional to the horizon, not the stream
    * (the stream-stream inner-join state contract).
    *
    * Inputs need (user_id, ts, event_id); ts must be TimestampType. */
  private def attrSide(df: DataFrame, prefix: String,
      watermark: Option[String]): DataFrame = {
    val wm = watermark.map(w => df.withWatermark("ts", w)).getOrElse(df)
    wm.select(col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"),
      col("event_id").as(s"${prefix}_id"))
  }

  private def attrCond(horizon: String) =
    col("click_user") === col("conv_user") &&
      col("click_ts") <= col("conv_ts") &&
      col("conv_ts") <= col("click_ts") + expr(s"INTERVAL $horizon")

  def attributionJoin(
      clicks: DataFrame,
      conversions: DataFrame,
      horizon: String = "1 hour",
      watermark: Option[String] = None
  ): DataFrame =
    attrSide(clicks, "click", watermark)
      .join(attrSide(conversions, "conv", watermark), attrCond(horizon))
      .select(col("click_user").as("user_id"), col("click_id"), col("conv_id"),
        col("click_ts"), col("conv_ts"))

  /** Stream-stream LEFT OUTER attribution — the ABANDONMENT complement of
    * [[attributionJoin]]: every click emits, matched clicks with their
    * conversions, unmatched clicks with a null conv_id. On a stream the
    * null row is emitted only once the watermark passes the click's whole
    * horizon (Spark's outer stream-stream join semantics: "no match" is
    * unknowable earlier); in batch the same plan is a plain left join.
    * State bounded by watermark + horizon on both sides, exactly as the
    * inner variant. */
  def abandonmentJoin(
      clicks: DataFrame,
      conversions: DataFrame,
      horizon: String = "1 hour",
      watermark: Option[String] = None
  ): DataFrame =
    attrSide(clicks, "click", watermark)
      .join(attrSide(conversions, "conv", watermark), attrCond(horizon),
        "left_outer")
      .select(col("click_user").as("user_id"), col("click_id"),
        col("click_ts"), col("conv_id"))

  /** The per-unit cell stage shared by every DP windowed release
    * ([[dpWindowedCount]]/[[dpWindowedSum]]/[[dpWindowedMean]]): optional
    * watermark, then one stateful aggregation producing each (window,
    * unit, keys) cell's raw count `__n` and (when `valueCol` is given)
    * clamped-value sum `__s`; `boundedN`/`boundedS` are the count cap and
    * two-sided cell-sum clamp applied before noise. ONE copy of the clamp
    * and grouping semantics, so the releases cannot drift. */
  private def perUnitCells(
      events: DataFrame,
      pidCol: String,
      tsCol: String,
      valueCol: Option[String],
      keyCols: Seq[String],
      windowLength: String,
      minValue: Double,
      maxValue: Double,
      watermark: Option[String]
  ): DataFrame = {
    val base = watermark.map(w => events.withWatermark(tsCol, w)).getOrElse(events)
    val keyCs = keyCols.map(col)
    val grouped = base.groupBy(
      window(col(tsCol), windowLength) +: col(pidCol) +: keyCs: _*)
    valueCol match {
      case Some(v) =>
        // fail loud on NULL values — the batch DPEngine convention: least/
        // greatest SKIP nulls, so an unguarded clamp would silently coerce
        // a NULL value to minValue and inject it into the released sum
        // (and the mean's count) as if the unit had reported minValue
        val checked = when(col(v).isNull, raise_error(lit(
            "StreamOps DP release: NULL value for a privacy unit — nulls " +
              "have no clipping semantics; filter or impute upstream"))
          .cast("double")).otherwise(col(v).cast("double"))
        val clamped = least(greatest(checked, lit(minValue)), lit(maxValue))
        grouped.agg(count(lit(1)).as("__n"), sum(clamped).as("__s"))
      case None => grouped.agg(count(lit(1)).as("__n"))
    }
  }

  /** DRAW-ONCE for batch consumers of the WINDOWED DP releases (17th
    * pass, r17 — the r13/r14 continual-family lesson applied here): the
    * per-cell noise UDFs re-draw on EVERY action, so a batch caller
    * collecting a release twice would silently receive two independent
    * releases (2x the advertised epsilon spend). The released cell set
    * is data-shaped, so the continual family's driver-side literal
    * draws cannot apply; instead a LAZY localCheckpoint pins the first
    * materialization for every later consumer. Streaming frames cannot
    * checkpoint — and need no pin: a streaming sink consumes each
    * micro-batch exactly once. Residual caveat (the documented r13
    * hole, narrow): a task retry DURING the first batch materialization
    * re-draws that partition; batch callers needing retry-proof draws
    * should write the release to storage and read it back. */
  private def pinBatchDraws(out: DataFrame): DataFrame =
    if (out.isStreaming) out else out.localCheckpoint(false)

  private def boundedN(maxPerCell: Long) = least(col("__n"), lit(maxPerCell))
  private def boundedS(maxPerCell: Long, minValue: Double, maxValue: Double) =
    least(greatest(col("__s"), lit(maxPerCell * minValue)), lit(maxPerCell * maxValue))

  /** Bounded-contribution noisy windowed count — the streaming analogue of
    * the batch DP count under a PER-RELEASE budget. Each (window, key) cell
    * is released with Laplace(maxPerCell/epsilon) noise, epsilon-DP w.r.t.
    * one privacy unit's data within that cell: the first aggregation caps a
    * unit's contribution to a cell at `maxPerCell` (the Linf bound of the
    * batch engine), so cell sensitivity is exactly maxPerCell. Cross-cell
    * composition remains the caller's accounting — an unbounded stream
    * cannot bound up front how many cells a unit will eventually touch
    * (there is no stream analogue of maxPartitionsContributed; SURVEY
    * §2.E), so a unit's global epsilon grows with the cells it actually
    * appears in. Fixed-budget-per-window releases are the standard
    * production shape for continually-observed DP counters (Chan-Shi-Song /
    * Dwork et al. continual observation being the research alternative).
    *
    * CELL-EXISTENCE DISCLOSURE (read this): the released cells are the
    * OBSERVED (window, key) cells, and both coordinates derive from the
    * data — emitting a cell at all reveals that SOMEONE contributed to it,
    * which noise on the count cannot hide. This is the fixed-dashboard
    * assumption production streaming counters run under (the window grid
    * and key set are treated as public context); for a genuinely private
    * key domain use the batch engine's partition selection, or
    * [[dpContinualCount]] with `publicKeys` (its tick grid is GENERATED,
    * so with public keys nothing data-derived shapes the release set).
    *
    * The SAME plan runs batch or streaming: two chained event-time window
    * aggregations (per-unit cap, then cell sum) plus a noise projection —
    * in streaming mode pass `watermark` so both stateful stages evict
    * state at the watermark (chained stateful aggregations require append
    * mode + watermark). State per stage is one row per live (window, unit,
    * key) / (window, key) — proportional to the watermark horizon, not the
    * stream. For oracle verification run with [[NoiseSource.Zero]]. */
  def dpWindowedCount(
      events: DataFrame,
      pidCol: String,
      tsCol: String,
      keyCols: Seq[String],
      windowLength: String,
      epsilon: Double,
      maxPerCell: Long,
      noise: graft.core.NoiseSource,
      watermark: Option[String] = None
  ): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(maxPerCell > 0, s"maxPerCell must be positive, got $maxPerCell")
    val keyCs = keyCols.map(col)
    val perUnit = perUnitCells(events, pidCol, tsCol, None, keyCols,
      windowLength, 0.0, 0.0, watermark)
    val b = maxPerCell.toDouble / epsilon
    val src = noise
    val noiseUdf = udf(() => src.laplace(b)).asNondeterministic()
    val out = perUnit
      .groupBy(col("window") +: keyCs: _*)
      .agg(sum(boundedN(maxPerCell)).as("__raw"))
      .select(col("window.start").as("window_start") +: keyCs :+
        (col("__raw") + noiseUdf()).cast("double").as("dp_count"): _*)
    pinBatchDraws(out)
  }

  /** The sum analogue of [[dpWindowedCount]], mirroring the batch
    * SumCombiner's per-partition bounding mode: each VALUE clamps to
    * [minValue, maxValue], then each unit's per-(window, key) SUM of
    * clamped values clamps to [maxPerCell*minValue, maxPerCell*maxValue] —
    * row-count capping ("keep the first k rows") would be arrival-order-
    * dependent on a stream, while sum clamping is order-free and dominates
    * any k <= maxPerCell clamped rows. Cell sensitivity is
    * maxPerCell * max(|minValue|, |maxValue|); same per-release budget
    * caveats as the count. */
  def dpWindowedSum(
      events: DataFrame,
      pidCol: String,
      tsCol: String,
      valueCol: String,
      keyCols: Seq[String],
      windowLength: String,
      epsilon: Double,
      maxPerCell: Long,
      minValue: Double,
      maxValue: Double,
      noise: graft.core.NoiseSource,
      watermark: Option[String] = None
  ): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(maxPerCell > 0, s"maxPerCell must be positive, got $maxPerCell")
    require(minValue <= maxValue, s"minValue $minValue > maxValue $maxValue")
    val keyCs = keyCols.map(col)
    val perUnit = perUnitCells(events, pidCol, tsCol, Some(valueCol), keyCols,
      windowLength, minValue, maxValue, watermark)
    val b = maxPerCell * math.max(math.abs(minValue), math.abs(maxValue)) / epsilon
    val src = noise
    val noiseUdf = udf(() => src.laplace(b)).asNondeterministic()
    val out = perUnit
      .groupBy(col("window") +: keyCs: _*)
      .agg(sum(boundedS(maxPerCell, minValue, maxValue)).as("__raw"))
      .select(col("window.start").as("window_start") +: keyCs :+
        (col("__raw") + noiseUdf()).cast("double").as("dp_sum"): _*)
    pinBatchDraws(out)
  }

  /** DP windowed MEAN — the count and sum releases of [[dpWindowedCount]]
    * / [[dpWindowedSum]] computed in ONE stateful pass over the same
    * per-unit cells (count bound and sum clamp exactly as there), each
    * noised under HALF the per-release budget (two queries on the same
    * data compose), and post-processed into dp_mean = dp_sum /
    * max(dp_count, 1) — post-processing is free under DP. Under
    * NoiseSource.Zero with non-binding bounds the mean is the exact
    * windowed average, the oracle arm; tight-clamp semantics and
    * stream==batch parity are pinned in StreamOpsSpec. */
  def dpWindowedMean(
      events: DataFrame,
      pidCol: String,
      tsCol: String,
      valueCol: String,
      keyCols: Seq[String],
      windowLength: String,
      epsilon: Double,
      maxPerCell: Long,
      minValue: Double,
      maxValue: Double,
      noise: graft.core.NoiseSource,
      watermark: Option[String] = None
  ): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(maxPerCell > 0, s"maxPerCell must be positive, got $maxPerCell")
    require(minValue <= maxValue, s"minValue $minValue > maxValue $maxValue")
    val keyCs = keyCols.map(col)
    val perUnit = perUnitCells(events, pidCol, tsCol, Some(valueCol), keyCols,
      windowLength, minValue, maxValue, watermark)
    val epsHalf = epsilon / 2.0
    val bCount = maxPerCell.toDouble / epsHalf
    val bSum = maxPerCell * math.max(math.abs(minValue), math.abs(maxValue)) / epsHalf
    val src = noise
    val countNoise = udf(() => src.laplace(bCount)).asNondeterministic()
    val sumNoise = udf(() => src.laplace(bSum)).asNondeterministic()
    val out = perUnit
      .groupBy(col("window") +: keyCs: _*)
      .agg(sum(boundedN(maxPerCell)).as("__rawN"),
        sum(boundedS(maxPerCell, minValue, maxValue)).as("__rawS"))
      .withColumn("dp_count", (col("__rawN") + countNoise()).cast("double"))
      .withColumn("dp_sum", (col("__rawS") + sumNoise()).cast("double"))
      .select(col("window.start").as("window_start") +: keyCs :+
        col("dp_count") :+ col("dp_sum") :+
        (col("dp_sum") / greatest(col("dp_count"), lit(1.0))).as("dp_mean"): _*)
    pinBatchDraws(out)
  }

  /** Continual-observation DP counter — the binary-tree mechanism (Chan,
    * Shi & Song TISSEC'11; Dwork, Naor, Pitassi & Rothblum STOC'10):
    * releases the RUNNING count `n([0, t])` for EVERY tick t in
    * [0, horizon) with additive error O(log^1.5 T / eps), where composing
    * a fresh count per tick would cost O(T) error (or O(T) budget). ONE
    * Laplace draw per dyadic node, shared by every prefix that includes
    * the node; prefix t reads its <= log2(T)+1 binary-decomposition nodes.
    * This is the research-grade alternative to [[dpWindowedCount]]'s
    * per-release model that SURVEY §2.E flags the reference cannot express
    * at all (batch-only, no release-sequence concept).
    *
    * Budget semantics: a unit contributes at most `maxPerTick` rows to one
    * (tick, key) cell's count (the Linf bound); one cell's data sits in
    * exactly levels+1 nodes OF THAT KEY'S TREE, so the WHOLE T-release
    * sequence is epsilon-DP w.r.t. one unit's data within one (tick, key)
    * cell (per-node Laplace scale = maxPerTick * (levels+1) / epsilon).
    * Cross-key and cross-tick composition are the caller's accounting —
    * each key gets its own dyadic tree, so a unit touching k distinct
    * keys at one tick spends k*epsilon; nothing here bounds keys-per-unit
    * (no stream analogue of maxPartitionsContributed — the same
    * [[dpWindowedCount]] cell contract). Empty nodes carry noise too (the
    * mechanism's
    * requirement — a missing draw would disclose emptiness), which is why
    * the node universe is generated, not observed. Ticks outside
    * [0, horizon) fail loud in-plan. Zero noise => exact prefix counts,
    * the SQL window-sum oracle; keys (if any) must be low-cardinality
    * (the universe crosses keys x 2*horizon nodes).
    *
    * KEY-EXISTENCE: the tick grid is GENERATED (every tick releases, so
    * time-existence discloses nothing), but with `publicKeys = None` the
    * key universe is the OBSERVED key set — releasing a key at all
    * reveals someone contributed to it, which noise cannot hide (the
    * partition-selection problem). Pass `publicKeys` (a one-column frame
    * matching `keyCols`, by position) to make the release set fully
    * data-independent: non-public rows DROP before bounding (the batch
    * engine's public-partitions convention) and every public key releases
    * at every tick, empty or not. With no public contract, discover the
    * key set privately first and pass the selected frame — the
    * [[graft.spark.RangeTree.dpRangeCountTree]] KEY-EXISTENCE note and
    * the `dp_range_selected` composition apply verbatim here.
    *
    * Plan shape: the range tree's core over ticks — one bounded
    * per-(unit, tick, key) cell aggregation ([[tickCells]]), the dyadic
    * node rollup and driver-drawn release of
    * [[graft.spark.RangeTree.release]], and one prefix-decomposition
    * join ([[continualRelease]]). */
  def dpContinualCount(
      events: DataFrame,
      pidCol: String,
      tickCol: org.apache.spark.sql.Column,
      keyCols: Seq[String],
      horizon: Int,
      epsilon: Double,
      maxPerTick: Long,
      noise: graft.core.NoiseSource,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): DataFrame = {
    val sc = graft.spark.RangeTree.scope("dpContinualCount", keyCols,
      publicKeys, tickAxis(horizon))
    val scale = sc.scale(noiseKind, epsilon, delta, maxPerTick.toDouble)
    val cells = tickCells(events, pidCol, tickCol, sc, maxPerTick, None)
    continualRelease(cells, graft.spark.RangeTree.releaseKeys(cells, sc), "__nc",
      sc, scale, noise, noiseKind, "dp_prefix_count")
  }

  /** The continual family's tick axis: any power-of-two horizon. */
  private def tickAxis(horizon: Int) =
    graft.spark.RangeTree.axis("horizon", horizon, max = 1 << 30,
      leaf = "__t")

  /** The bounded per-(unit, tick, key) cells of the continual family —
    * ONE definition for every continual entry point, so the bounding
    * cannot drift: ticks fail loud outside [0, horizon) (and, for the streaming
    * fold, at or below `frontier`), keys fail loud on NULL, public keys
    * drop non-public rows before bounding, and each unit contributes
    * least(count, maxPerTick) to a cell's count `__nc` and, with
    * `value = (column, minValue, maxValue)`, its clamped per-cell sum —
    * each value clamped into [minValue, maxValue], the cell's sum into
    * [maxPerTick * minValue, maxPerTick * maxValue] — to `__ns`. Summed
    * per (tick, key) and pinned: the node rollup and the key universe
    * both read it. `counts = false` leaves `__nc` out. */
  private def tickCells(events: DataFrame, pidCol: String,
      tickCol: org.apache.spark.sql.Column,
      sc: graft.spark.RangeTree.TreeScope, maxPerTick: Long,
      value: Option[(String, Double, Double)],
      counts: Boolean = true, frontier: Long = -1L): DataFrame = {
    require(maxPerTick > 0, s"maxPerTick must be positive, got $maxPerTick")
    val horizon = sc.axes.head.bins
    val u0 = tickCol.cast("long")
    val u = when(u0.isNull || u0 <= frontier || u0 >= horizon, raise_error(lit(
        s"${sc.what}: tick outside [${frontier + 1}, $horizon) — ticks " +
          "must fit the horizon (a power of two) and ascend past every " +
          "tick already ingested or released (per-tick bounding is per " +
          "step; released prefixes are final); widen the horizon, filter " +
          "the input, or replay through the batch face")).cast("long"))
      .otherwise(u0)
    val sums = value.toSeq.map { case (v, minV, maxV) =>
      require(minV <= maxV, s"minValue $minV > maxValue $maxV")
      // NULL values fail loud: least/greatest skip nulls, so an unguarded
      // clamp would inject minValue silently
      val checked = when(col(v).isNull, raise_error(lit(
          s"${sc.what}: NULL value for a privacy unit — nulls have no " +
            "clipping semantics; filter or impute upstream")).cast("double"))
        .otherwise(col(v).cast("double"))
      "__ns" -> least(greatest(sum(least(greatest(checked, lit(minV)),
        lit(maxV))), lit(maxPerTick * minV)), lit(maxPerTick * maxV))
    }
    val perUnit = (if (counts) Seq("__nc" ->
      least(count(lit(1)), lit(maxPerTick)).cast("double")) else Nil) ++ sums
    val perCell = perUnit.map { case (n, _) => sum(col(n)).as(n) }
    sc.rows(events)
      .groupBy(col(pidCol).as("__pid") +: u.as("__t") +: sc.keys(events): _*)
      .agg(perUnit.head._2.as(perUnit.head._1),
        perUnit.tail.map { case (n, c) => c.as(n) }: _*)
      .groupBy(col("__t") +: sc.keyCols.map(col): _*)
      .agg(perCell.head, perCell.tail: _*)
      .localCheckpoint(false)
  }

  /** KEY-RANGE SHARDED continual counter — [[dpContinualCount]] at ANY
    * key cardinality (past the keyed driver cap): the bounded
    * per-tick cells build in ONE distributed pass, then the key universe
    * splits into deterministic key-range shards
    * ([[graft.spark.RangeTree.shardedByKeyRange]]), each released
    * independently and WRITTEN to `outDir` before the next shard draws —
    * exactly one draw per (key, node) in total, and never more than one
    * shard's literal noise frame on the driver. Privacy composes in
    * PARALLEL over disjoint keys (the family's cell contract), so
    * sharding costs zero extra budget. The read-back union carries the
    * released schema, so [[continualWindowCounts]] consumes it
    * unchanged. `maxKeysPerShard = 0` uses the release guard's own cap
    * (MaxDriverRows / (2*horizon - 1)). */
  def dpContinualCountSharded(
      events: DataFrame,
      pidCol: String,
      tickCol: org.apache.spark.sql.Column,
      keyCols: Seq[String],
      horizon: Int,
      epsilon: Double,
      maxPerTick: Long,
      noise: graft.core.NoiseSource,
      outDir: String,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0,
      maxKeysPerShard: Long = 0L
  ): DataFrame = {
    val sc = graft.spark.RangeTree.scope("dpContinualCountSharded", keyCols,
      publicKeys, tickAxis(horizon))
    val scale = sc.scale(noiseKind, epsilon, delta, maxPerTick.toDouble)
    shardedContinual(tickCells(events, pidCol, tickCol, sc, maxPerTick,
      None), "__nc", sc, scale, noise, noiseKind, "dp_prefix_count", outDir,
      maxKeysPerShard)
  }

  /** The continual release: the cells' dyadic node store released by the
    * tree core ([[graft.spark.RangeTree.release]] — one driver draw per
    * node, empty nodes included, over the key universe `keyRows` that
    * [[graft.spark.RangeTree.releaseKeys]] read from the pinned cells), then
    * the PREFIX READOUT: tick t reads the nodes of its binary
    * decomposition — level l is in the decomposition of [0, t] iff bit l
    * of t+1 is set, at node index ((t+1) >> (l+1)) * 2 — so every prefix
    * shares one draw per node. Returns (t, keys..., `outCol`). */
  private def continualRelease(cells: DataFrame,
      keyRows: Seq[org.apache.spark.sql.Row], value: String,
      sc: graft.spark.RangeTree.TreeScope, scale: Double,
      noise: graft.core.NoiseSource, kind: graft.core.NoiseKind,
      outCol: String): DataFrame = {
    val nodes = graft.spark.RangeTree.release(
      graft.spark.RangeTree.dyadicRollup(cells, sc, value), cells, keyRows, sc,
      scale, noise, kind)
    decompositions(cells.sparkSession, 0L, sc.axes.head.bins - 1L,
        sc.axes.head.levels)
      // broadcast: the noisy nodes are bounded by keys x (2*horizon-1)
      .join(broadcast(nodes), Seq("__lvl", "__idx"))
      .groupBy(col("t") +: sc.keyCols.map(col): _*)
      .agg(sum(col("dp_count")).cast("double").as(outCol))
  }

  /** (t, __lvl, __idx): the dyadic decomposition nodes of every prefix
    * [0, t] for t in [from, to] — pure arithmetic over the tick range. */
  private def decompositions(spark: SparkSession, from: Long, to: Long,
      levels: Int): DataFrame =
    spark.range(from, to + 1).toDF("t")
      .withColumn("__lvl", explode(sequence(lit(0), lit(levels))))
      .filter(expr("(shiftright(t + 1, __lvl) & 1) = 1"))
      .withColumn("__idx", expr("shiftleft(shiftright(t + 1, __lvl + 1), 1)"))

  /** [[continualRelease]] sharded by key range
    * ([[graft.spark.RangeTree.shardedByKeyRange]]): each shard releases
    * with its own keys as the public set and is written to `outDir`
    * before the next draws. */
  private def shardedContinual(cells: DataFrame, value: String,
      sc: graft.spark.RangeTree.TreeScope, scale: Double,
      noise: graft.core.NoiseSource, kind: graft.core.NoiseKind,
      outCol: String, outDir: String, maxKeysPerShard: Long): DataFrame =
    graft.spark.RangeTree.shardedByKeyRange(cells, sc.keyCols, sc.pub,
      sc.nodes, maxKeysPerShard, outDir) { (slice, shardKeys) =>
      val shard = sc.copy(pub = Some(shardKeys))
      continualRelease(slice, graft.spark.RangeTree.releaseKeys(slice, shard),
        value, shard, scale, noise, kind, outCol)
    }

  /** The SUM analogue of [[dpContinualCount]] — running clamped-value sums
    * under the same binary-tree mechanism, mirroring [[dpWindowedSum]]'s
    * order-free bounding: each value clamps to [minValue, maxValue], each
    * unit's per-(tick, key)-cell sum of clamped values clamps to
    * [maxPerTick*minValue, maxPerTick*maxValue], so one unit's data within
    * one (tick, key) cell moves a node sum by at most maxPerTick *
    * max(|minValue|, |maxValue|) and the whole release sequence is
    * epsilon-DP w.r.t. that cell at per-node Laplace scale maxPerTick *
    * max|bound| * (levels+1) / epsilon; cross-key and cross-tick
    * composition are the caller's accounting (each key is its own tree —
    * the [[dpContinualCount]] cell contract). All
    * other contracts ([[dpContinualCount]]: generated universes,
    * key-existence caveat + publicKeys, fail-loud ticks/keys/values)
    * apply verbatim. */
  def dpContinualSum(
      events: DataFrame,
      pidCol: String,
      tickCol: org.apache.spark.sql.Column,
      valueCol: String,
      keyCols: Seq[String],
      horizon: Int,
      epsilon: Double,
      maxPerTick: Long,
      minValue: Double,
      maxValue: Double,
      noise: graft.core.NoiseSource,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): DataFrame = {
    val sc = graft.spark.RangeTree.scope("dpContinualSum", keyCols,
      publicKeys, tickAxis(horizon))
    val scale = sc.scale(noiseKind, epsilon, delta,
      maxPerTick * math.max(math.abs(minValue), math.abs(maxValue)))
    val cells = tickCells(events, pidCol, tickCol, sc, maxPerTick,
      Some((valueCol, minValue, maxValue)), counts = false)
    continualRelease(cells, graft.spark.RangeTree.releaseKeys(cells, sc), "__ns",
      sc, scale, noise, noiseKind, "dp_prefix_sum")
  }

  /** KEY-RANGE SHARDED continual SUM — [[dpContinualSum]] at ANY key
    * cardinality (the [[dpContinualCountSharded]] loop over the clamped
    * per-tick cells; same draw-once / zero-extra-budget contract). The
    * continual MEAN at shard scale is composition: one sharded count +
    * one sharded sum (each on half the budget, distinct outDirs), joined
    * on (t, keys) — the ratio is post-processing, exactly as the unsharded
    * [[dpContinualMean]] builds it. */
  def dpContinualSumSharded(
      events: DataFrame,
      pidCol: String,
      tickCol: org.apache.spark.sql.Column,
      valueCol: String,
      keyCols: Seq[String],
      horizon: Int,
      epsilon: Double,
      maxPerTick: Long,
      minValue: Double,
      maxValue: Double,
      noise: graft.core.NoiseSource,
      outDir: String,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0,
      maxKeysPerShard: Long = 0L
  ): DataFrame = {
    val sc = graft.spark.RangeTree.scope("dpContinualSumSharded", keyCols,
      publicKeys, tickAxis(horizon))
    val scale = sc.scale(noiseKind, epsilon, delta,
      maxPerTick * math.max(math.abs(minValue), math.abs(maxValue)))
    shardedContinual(tickCells(events, pidCol, tickCol, sc, maxPerTick,
      Some((valueCol, minValue, maxValue)), counts = false), "__ns", sc,
      scale, noise, noiseKind, "dp_prefix_sum", outDir, maxKeysPerShard)
  }

  /** Continual-observation DP MEAN — the [[dpWindowedMean]] recipe over
    * the shared dyadic-tree core: a COUNT tree and a clamped-SUM tree,
    * each on half the budget, released at every tick; the running mean is
    * their ratio — pure post-processing of the two prefix releases (DP is
    * closed under post-processing, so the division costs nothing). Both
    * trees fold the SAME bounded per-(unit, tick, key) aggregation from
    * ONE scan of the input — the count and sum caps are applied together,
    * map-side combined, and the checkpointed per-tick frame feeds both
    * releases, so adding the mean costs one extra tree release, not a
    * second pass over the data.
    *
    * Budget semantics: epsilon/2 to each tree, so the whole T-release
    * sequence is epsilon-DP w.r.t. one unit's data within one (tick, key)
    * cell by basic composition (count sensitivity maxPerTick; sum
    * sensitivity maxPerTick * max(|minValue|, |maxValue|) — the
    * order-free [[dpContinualSum]] clamping). Cross-key and cross-tick
    * composition are the caller's accounting — the family's cell
    * contract. All other contracts ([[dpContinualCount]]: generated
    * universes, empty nodes draw noise, key-existence caveat +
    * publicKeys, fail-loud ticks/keys/values) apply verbatim.
    * dp_prefix_mean divides by max(dp_prefix_count, 1) — the
    * [[dpWindowedMean]] convention, defined even when count noise dips
    * near zero. Zero noise => exact running mean at every tick. */
  def dpContinualMean(
      events: DataFrame,
      pidCol: String,
      tickCol: org.apache.spark.sql.Column,
      valueCol: String,
      keyCols: Seq[String],
      horizon: Int,
      epsilon: Double,
      maxPerTick: Long,
      minValue: Double,
      maxValue: Double,
      noise: graft.core.NoiseSource,
      publicKeys: Option[DataFrame] = None,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): DataFrame = {
    val sc = graft.spark.RangeTree.scope("dpContinualMean", keyCols,
      publicKeys, tickAxis(horizon))
    // half the budget to each tree — epsilon/2 each by basic composition;
    // under Gaussian the caller's delta also splits in half per tree
    val bCount = sc.scale(noiseKind, epsilon / 2.0, delta / 2.0,
      maxPerTick.toDouble)
    val bSum = sc.scale(noiseKind, epsilon / 2.0, delta / 2.0,
      maxPerTick * math.max(math.abs(minValue), math.abs(maxValue)))
    // ONE bounded-contribution pass and one key universe feed both trees
    val cells = tickCells(events, pidCol, tickCol, sc, maxPerTick,
      Some((valueCol, minValue, maxValue)))
    val keyRows = graft.spark.RangeTree.releaseKeys(cells, sc)
    val cnt = continualRelease(cells, keyRows, "__nc", sc, bCount, noise,
      noiseKind, "dp_prefix_count")
    val sm = continualRelease(cells, keyRows, "__ns", sc, bSum, noise,
      noiseKind, "dp_prefix_sum")
    // broadcast: both releases are horizon x keys bounded, no stats
    cnt.join(broadcast(sm), Seq("t") ++ keyCols)
      .withColumn("dp_prefix_mean",
        col("dp_prefix_sum") / greatest(col("dp_prefix_count"), lit(1.0)))
  }

  /** One foreachBatch step of the CONTINUAL counter — the streaming face
    * of [[dpContinualCount]] (the [[onlineLinkStep]] store shape): node
    * sums accumulate across micro-batches, per-node noise is drawn ONCE
    * when a node is first needed by a release and persisted in the store
    * (re-drawing per step would break the mechanism: releases would stop
    * sharing draws and the error would grow linearly). The step folds the
    * batch's bounded per-tick counts into the node-sum store, then emits
    * releases for the newly COMPLETED ticks `(releasedThrough,
    * releaseThrough]` (the caller's watermark decides completion — a
    * release must only read final sums).
    *
    * CONTRACT (enforced): each batch's ticks lie strictly ABOVE every
    * previously ingested tick (`store.maxTick`) — contribution bounding is
    * per (unit, tick) WITHIN a step, so a tick split across steps would
    * double-apply the cap and break the sensitivity argument. The
    * ascending-range ingest contract of [[onlineNearDupStep]], for the
    * same reason: the semantics silently break otherwise, so it fails
    * loud. Replays/backfills use the batch face.
    *
    * Store: (nodeSums(lvl, idx, keys, sum), nodeNoise(lvl, idx, keys,
    * draw), maxTick). Zero-noise fold == the batch face on the
    * concatenated input (spec-pinned, incl. the cross-batch draw-once
    * property via a counting noise source). */
  /** The persisted draws are CALIBRATION-SPECIFIC, so the store records
    * the noise kind and per-node scale they were drawn at and every
    * subsequent step requires equality — a mid-stream kind
    * or budget switch would silently mix draws at wrong scales and void
    * the advertised guarantee; "MUST be the same every step" is now
    * enforced, not a comment. */
  final case class ContinualStore(
      nodeSums: DataFrame, nodeNoise: DataFrame, maxTick: Long,
      noiseKind: graft.core.NoiseKind, scale: Double)

  def onlineContinualStep(
      batch: DataFrame,
      store: Option[ContinualStore],
      pidCol: String,
      tickCol: org.apache.spark.sql.Column,
      keyCols: Seq[String],
      horizon: Int,
      epsilon: Double,
      maxPerTick: Long,
      noise: graft.core.NoiseSource,
      releasedThrough: Long, // last tick already released (-1 = none)
      releaseThrough: Long,  // release ticks in (releasedThrough, releaseThrough]
      // per-node noise kind — MUST be the same every step: the store's
      // persisted draws are calibration-specific ([[RangeTree.treeScale]])
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): (DataFrame, ContinualStore) = {
    require(releaseThrough < horizon && releasedThrough <= releaseThrough,
      s"release range ($releasedThrough, $releaseThrough] invalid for horizon $horizon")
    val sc = graft.spark.RangeTree.scope("onlineContinualStep", keyCols, None,
      tickAxis(horizon))
    // the calibration the store's persisted draws live at — computed up
    // front so BOTH the mismatch check and every draw below read one value
    val scale = sc.scale(noiseKind, epsilon, delta, maxPerTick.toDouble)
    store.foreach { st =>
      require(st.noiseKind == noiseKind && st.scale == scale,
        s"onlineContinualStep: the store's persisted draws were made at " +
          s"(${st.noiseKind}, per-node scale ${st.scale}) but this step " +
          s"asks ($noiseKind, $scale) — noise kind, epsilon, delta and " +
          "maxPerTick MUST stay fixed across a continual stream (the " +
          "draws are calibration-specific); start a new stream to " +
          "rebudget")
    }
    val keyCs = keyCols.map(col)
    val prevMax = store.map(_.maxTick).getOrElse(-1L)
    // ticks must ascend past BOTH frontiers: the last ingested tick
    // (per-tick bounding is per step) and the last RELEASED tick (a
    // release reads final sums — late data for a released tick would
    // retroactively falsify it)
    val cells = tickCells(batch, pidCol, tickCol, sc, maxPerTick, None,
      frontier = math.max(prevMax, releasedThrough))
    val batchMax = cells.agg(coalesce(max(col("__t")), lit(prevMax))).head().getLong(0)
    val sums = graft.spark.RangeTree.dyadicRollup(cells, sc, "__nc",
        store.map(_.nodeSums))
      .localCheckpoint(false) // store outlives the batch; releases + next step
    val spark0 = batch.sparkSession
    val prevNoise = store.map(_.nodeNoise)
      .getOrElse(emptyNoiseFrame(spark0, sums, keyCols))
    if (releaseThrough <= releasedThrough) {
      val emptyRel = spark0.range(releasedThrough + 1, releaseThrough + 1)
        .toDF("t").crossJoin(sums.select(keyCs: _*).limit(0))
        .withColumn("dp_prefix_count", lit(0.0))
      return (emptyRel,
        ContinualStore(sums, prevNoise, batchMax, noiseKind, scale))
    }
    // releases for the newly completed ticks: decomposition nodes, noise
    // drawn once per node and persisted into the noise store. The draws
    // happen in DRIVER code — exactly once, unconditionally — and enter
    // the plan as a local literal frame: a nondeterministic noise UDF
    // would re-run on a task retry and hand DIFFERENT noise to the
    // releases and the store, and an eager checkpoint to stop that costs
    // an extra traversal per step. The noise store is a deterministic
    // union of literals. Driver cost is O(keys x wave nodes) plus one
    // bounded collect of the store's coordinate set (keys x 2*horizon
    // rows), under the core's key guard.
    val keyRows = graft.spark.RangeTree.releaseKeys(sums, sc)
    val draw = graft.spark.RangeTree.drawer(noise, noiseKind, scale)
    // decomposition nodes of this wave's ticks — pure arithmetic
    val waveNodes: Seq[(Int, Long)] =
      (releasedThrough + 1 to releaseThrough).flatMap { t =>
        (0 to sc.axes.head.levels).collect {
          case l if (((t + 1) >> l) & 1L) == 1L => (l, ((t + 1) >> (l + 1)) << 1)
        }
      }.distinct
    val drawnCoords: Set[(Int, Long, Seq[Any])] = prevNoise
      .select(col("__lvl") +: col("__idx") +: keyCs: _*).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.toSeq.drop(2))).toSet
    val newRows: Seq[org.apache.spark.sql.Row] = for {
      kr <- keyRows
      (l, i) <- waveNodes
      if !drawnCoords((l, i, kr.toSeq))
    } yield org.apache.spark.sql.Row.fromSeq(l +: i +: kr.toSeq :+ draw())
    val allNoise = prevNoise.unionByName(spark0.createDataFrame(
      new java.util.ArrayList(newRows.asJava), prevNoise.schema))
    // every key holds a draw for every wave node, so the decomposition
    // joins the noise on the node alone and picks up each key's row.
    // Both stores are broadcast (bounded by keys x nodes under the key
    // guard): the tick side then streams without an exchange
    val released = decompositions(spark0, releasedThrough + 1, releaseThrough,
        sc.axes.head.levels)
      .join(broadcast(allNoise), Seq("__lvl", "__idx"))
      .join(broadcast(sums), Seq("__lvl", "__idx") ++ keyCols, "left")
      .groupBy(col("t") +: keyCs: _*)
      .agg(sum(coalesce(col("__s"), lit(0.0)) + col("__noise"))
        .cast("double").as("dp_prefix_count"))
    (released, ContinualStore(sums, allNoise, batchMax, noiseKind, scale))
  }

  private def emptyNoiseFrame(spark: SparkSession, sums: DataFrame,
      keyCols: Seq[String]): DataFrame =
    sums.select(col("__lvl") +: col("__idx") +: keyCols.map(col): _*)
      .limit(0).withColumn("__noise", lit(0.0))

  /** Persist a [[ContinualStore]] for a RESTART: node sums, the
    * persisted noise draws (parquet round-trips doubles bit-exact, so a
    * resumed fold reuses the SAME draws — no node ever re-draws across
    * a JVM or checkpoint restart), and the calibration metadata
    * (maxTick, noiseKind, per-node scale) the resume-time equality
    * check reads. The layout is three parquet dirs under `dir`;
    * overwrite semantics — the store after step N replaces the store
    * after step N-1 (the [[onlineContinualStep]] fold owns exactly one
    * live store per stream). */
  def saveContinualStore(store: ContinualStore, dir: String): Unit = {
    store.nodeSums.write.mode("overwrite").parquet(s"$dir/node_sums")
    store.nodeNoise.write.mode("overwrite").parquet(s"$dir/node_noise")
    val spark0 = store.nodeSums.sparkSession
    import spark0.implicits._
    Seq((store.maxTick, store.noiseKind.toString, store.scale))
      .toDF("max_tick", "noise_kind", "scale")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Re-read a persisted [[ContinualStore]] COLD (a fresh plan rooted at
    * the parquet files — no in-memory lineage), the restart face of
    * [[saveContinualStore]]. Fails loud on missing or ambiguous
    * calibration metadata: resuming a fold without the exact (noiseKind,
    * scale) the draws were made at would silently mix calibrations —
    * the same hazard the in-memory equality check guards. */
  def loadContinualStore(spark: SparkSession, dir: String): ContinualStore = {
    val meta =
      try spark.read.parquet(s"$dir/meta").collect()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"loadContinualStore: no calibration metadata under $dir/meta " +
              "— the store cannot resume without the exact (noiseKind, " +
              "scale) its draws were made at; was it written by " +
              s"saveContinualStore? (${e.getMessage})")
      }
    require(meta.length == 1,
      s"loadContinualStore: expected exactly one metadata row under " +
        s"$dir/meta, found ${meta.length} — the store is corrupt")
    val r = meta.head
    val kind = r.getAs[String]("noise_kind") match {
      case "Laplace"  => graft.core.NoiseKind.Laplace
      case "Gaussian" => graft.core.NoiseKind.Gaussian
      case other => throw new IllegalStateException(
        s"loadContinualStore: unknown noise kind '$other' in $dir/meta")
    }
    ContinualStore(
      spark.read.parquet(s"$dir/node_sums"),
      spark.read.parquet(s"$dir/node_noise"),
      r.getAs[Long]("max_tick"), kind, r.getAs[Double]("scale"))
  }

  /** The REAL-CHECKPOINT face of [[onlineContinualStep]] (r17): a
    * `foreachBatch` body that ties the continual fold to a Structured
    * Streaming `checkpointLocation`, so a stop/restart — a NEW
    * StreamingQuery object over the same checkpoint — resumes the fold
    * without reprocessing, re-drawing, or double-counting. Everything
    * lives under `stateDir`:
    *
    *   releases/batch_<id>/   this batch's released prefix rows
    *   store_b<id>/           the store AFTER folding batch id (versioned)
    *   stream_meta_b<id>/     (last_batch_id, released_through) — the
    *                          COMMIT POINT, written last; VERSIONED so the
    *                          flip is atomic (readers take the highest
    *                          _SUCCESS-marked version — a crash mid-write
    *                          leaves an ignored partial, never a deleted
    *                          pointer)
    *
    * `foreachBatch` is AT-LEAST-ONCE: a crash between this body and the
    * checkpoint commit replays the batch with the SAME batchId. The
    * meta-last write order makes the replay safe: a batch whose meta
    * committed is SKIPPED outright (its fold and releases are already
    * durable — idempotent replay); a batch that died before its meta
    * write re-folds from the previous committed store version and
    * OVERWRITES its own release/store dirs (the aborted attempt's draws
    * were never committed — readers must only read releases up to
    * `stream_meta.last_batch_id`). Any OTHER id relationship means the
    * checkpoint and the store disagree — a stale/lost store snapshot, a
    * foreign checkpoint — and the step fails loud instead of silently
    * dropping or double-applying batches. Old store versions
    * (store_b<k> for k < last_batch_id - 1) are dead and may be
    * janitored; each is tree-shaped (<= (2*horizon-1) x keys rows),
    * never data-shaped.
    *
    * Release policy: each batch releases the newly completed ticks
    * through its own max tick (the nightly-release pattern of the
    * foreachBatch drive specs); `releasedThrough` PERSISTS in the meta —
    * tracking it in driver memory is exactly what a restart loses.
    * Watermark-delayed completion wires the low-level
    * [[onlineContinualStep]] directly. */
  def continualCheckpointStep(
      batch: DataFrame,
      batchId: Long,
      stateDir: String,
      pidCol: String,
      tickCol: org.apache.spark.sql.Column,
      keyCols: Seq[String],
      horizon: Int,
      epsilon: Double,
      maxPerTick: Long,
      noise: graft.core.NoiseSource,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      delta: Double = 0.0
  ): Unit = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val spark0 = batch.sparkSession
    import spark0.implicits._
    val progress: Option[(Long, Long)] =
      resolveStreamMeta(spark0, stateDir, "continualCheckpointStep")
        .map(r => (r.getAs[Long]("last_batch_id"),
          r.getAs[Long]("released_through")))
    progress match {
      case Some((lastId, _)) if batchId == lastId =>
        // committed replay (crash between body completion and the
        // checkpoint commit): fold + releases already durable — skip
        return
      case Some((lastId, _)) if batchId != lastId + 1 =>
        throw new IllegalStateException(
          s"continualCheckpointStep: the checkpoint delivered batch " +
            s"$batchId but the store last committed batch $lastId — the " +
            "checkpoint and the state dir DISAGREE (stale/lost store " +
            "snapshot, or a foreign checkpointLocation); restore the " +
            "matching store or start a fresh stream (new " +
            "checkpointLocation AND stateDir together)")
      case None if batchId != 0 =>
        throw new IllegalStateException(
          s"continualCheckpointStep: the checkpoint delivered batch " +
            s"$batchId but $stateDir has no committed state — the " +
            "checkpoint has progressed past an empty/lost store; " +
            "restore the store or start a fresh stream (new " +
            "checkpointLocation AND stateDir together)")
      case _ => ()
    }
    val store = progress.map { case (lastId, _) =>
      loadContinualStore(spark0, s"$stateDir/store_b$lastId") }
    val releasedThrough = progress.map(_._2).getOrElse(-1L)
    val batchMax = batch
      .agg(coalesce(max(tickCol.cast("long")), lit(releasedThrough)))
      .head().getLong(0)
    val releaseThrough = math.max(releasedThrough, batchMax)
    val (rel, grown) = onlineContinualStep(batch, store, pidCol, tickCol,
      keyCols, horizon, epsilon, maxPerTick, noise, releasedThrough,
      releaseThrough, noiseKind, delta)
    // write order IS the crash contract: releases, then the versioned
    // store, then the meta COMMIT — see the class doc
    rel.write.mode("overwrite").parquet(s"$stateDir/releases/batch_$batchId")
    saveContinualStore(grown, s"$stateDir/store_b$batchId")
    commitStreamMeta(
      Seq((batchId, releaseThrough)).toDF("last_batch_id", "released_through"),
      stateDir, batchId)
  }

  /** Atomic commit-pointer flip for the checkpointed streaming ops. The old
    * protocol overwrote ONE `stream_meta` dir — which deletes the previous
    * pointer before the new one is durable, so a crash inside that window
    * left NO meta at all and restart hit the "no committed state" arm,
    * requiring manual recovery. Here each commit writes a NEW
    * `stream_meta_b<id>` dir (nothing pre-existing is touched); readers
    * resolve the highest `_SUCCESS`-marked version, so a crash mid-write
    * leaves an unmarked partial that is simply ignored and the previous
    * pointer stays live. Metas older than the previous version are
    * janitored after the commit (their failure to delete is non-fatal). */
  private def commitStreamMeta(meta: DataFrame, stateDir: String,
      batchId: Long): Unit = {
    val spark = meta.sparkSession
    meta.coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/stream_meta_b$batchId")
    // OWN commit marker, written here rather than trusting Spark's
    // _SUCCESS (r19 advice): deployments commonly disable
    // mapreduce.fileoutputcommitter.marksuccessfuljobs with object-store
    // committers, which would make every commit invisible to
    // resolveStreamMeta. This create() is the commit point; _SUCCESS is
    // accepted on read purely for r18-written state dirs.
    locally {
      val dir = new org.apache.hadoop.fs.Path(s"$stateDir/stream_meta_b$batchId")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(dir, commitMarker), true).close()
    }
    try {
      val base = new org.apache.hadoop.fs.Path(stateDir)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(base).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("stream_meta_b"))
          scala.util.Try(n.stripPrefix("stream_meta_b").toLong).toOption
            .filter(_ < batchId - 1)
            .foreach(_ => fs.delete(st.getPath, true))
        // the legacy single-dir pointer is superseded by any versioned one
        if (n == "stream_meta") fs.delete(st.getPath, true)
      }
    } catch { case scala.util.control.NonFatal(_) => () } // janitor only
  }

  /** Name of the engine-owned commit marker inside a
    * `stream_meta_b<id>` dir — written by [[commitStreamMeta]] itself so
    * commits stay visible even where Spark's `_SUCCESS` is disabled. */
  private[graft] val commitMarker = "_GRAFT_COMMIT"

  /** Resolve the committed stream_meta row: highest marker-carrying
    * `stream_meta_b<id>` version ([[commitMarker]], or `_SUCCESS` for
    * r18-written state), falling back to the legacy single `stream_meta`
    * dir (pre-r18 state dirs). None = nothing committed — with one
    * fail-loud exception: MULTIPLE unmarked versioned dirs mean a real
    * commit history this reader cannot see (e.g. markers stripped by a
    * copy tool), and silently restarting from scratch on top of it would
    * double-spend budgets downstream; a SINGLE unmarked dir is the
    * documented crash-mid-first-commit window and stays invisible by
    * design. */
  private[graft] def resolveStreamMeta(spark: SparkSession, stateDir: String,
      opName: String): Option[org.apache.spark.sql.Row] = {
    val base = new org.apache.hadoop.fs.Path(stateDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all: Seq[(Long, org.apache.hadoop.fs.Path, Boolean)] =
      if (!fs.exists(base)) Nil
      else fs.listStatus(base).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (!n.startsWith("stream_meta_b")) None
        else scala.util.Try(n.stripPrefix("stream_meta_b").toLong).toOption
          .map { id =>
            // a version is a commit iff it carries the engine-owned
            // marker (or Spark's _SUCCESS, for r18-written state); a
            // partial dir from a crash mid-write carries neither and is
            // invisible by design
            val committed = fs.exists(
              new org.apache.hadoop.fs.Path(st.getPath, commitMarker)) ||
              fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))
            (id, st.getPath, committed)
          }
      }
    val versioned = all.filter(_._3)
    val legacyExists = fs.exists(new org.apache.hadoop.fs.Path(base, "stream_meta"))
    // r19 review fix: the guard must fire even when a stale LEGACY
    // pointer survives (janitor deletions are best-effort) — versioned
    // dirs supersede it, so resolving the legacy pointer under 2+
    // unmarked versions would silently resume from stale state, a budget
    // double-spend in a worse form than the fresh-restart this guard
    // already prevents
    if (versioned.isEmpty && all.length > 1)
      throw new IllegalStateException(
        s"$opName: $stateDir holds ${all.length} stream_meta_b versions " +
          "but NONE carries a commit marker — that is a commit history " +
          "this reader cannot see (markers stripped in transit?), not a " +
          (if (legacyExists)
            "fresh stream, and the surviving legacy stream_meta pointer " +
              "is STALE relative to them; restore the markers or start a " +
              "genuinely fresh stateDir"
          else
            "fresh stream; restore the markers or start a genuinely " +
              "fresh stateDir"))
    val metaPath: Option[String] =
      if (versioned.nonEmpty) Some(versioned.maxBy(_._1)._2.toString)
      else if (legacyExists) Some(s"$stateDir/stream_meta")
      else None
    metaPath.map { p =>
      val rows = spark.read.parquet(p).collect()
      require(rows.length == 1,
        s"$opName: expected one stream_meta row under $stateDir, found " +
          s"${rows.length} — the state is corrupt")
      rows.head
    }
  }

  /** Generic REAL-CHECKPOINT adapter for the STORE-FOLD streaming ops
    * (r17): any `(batch, Option[store]) => grownStore` fold —
    * [[graft.spark.LocalDP.olhIngestStep]]'s additive cells,
    * [[onlineReservoirStep]]'s bottom-k store — tied to a Structured
    * Streaming `checkpointLocation` under the
    * [[continualCheckpointStep]] crash contract: versioned store
    * snapshots (`store_b<id>`), a meta-LAST commit (`stream_meta` with
    * last_batch_id), committed replays SKIPPED idempotently,
    * uncommitted batches re-folded from the previous committed version,
    * and any other checkpoint/store id relationship failing loud.
    * Old versions (k < last_batch_id - 1) are dead and may be
    * janitored; store frames are state-shaped by each fold's own
    * contract, never data-shaped. Read the live store with
    * [[loadCheckpointedStore]]. */
  def checkpointedStoreFold(
      batch: DataFrame,
      batchId: Long,
      stateDir: String
  )(fold: (DataFrame, Option[DataFrame]) => DataFrame): Unit = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val spark0 = batch.sparkSession
    import spark0.implicits._
    val lastId: Option[Long] =
      resolveStreamMeta(spark0, stateDir, "checkpointedStoreFold")
        .map(_.getAs[Long]("last_batch_id"))
    lastId match {
      case Some(last) if batchId == last => return // committed replay
      case Some(last) if batchId != last + 1 =>
        throw new IllegalStateException(
          s"checkpointedStoreFold: the checkpoint delivered batch " +
            s"$batchId but the store last committed batch $last — the " +
            "checkpoint and the state dir DISAGREE; restore the matching " +
            "store or start a fresh stream (new checkpointLocation AND " +
            "stateDir together)")
      case None if batchId != 0 =>
        throw new IllegalStateException(
          s"checkpointedStoreFold: the checkpoint delivered batch " +
            s"$batchId but $stateDir has no committed state — restore " +
            "the store or start a fresh stream (new checkpointLocation " +
            "AND stateDir together)")
      case _ => ()
    }
    val store = lastId.map(l => spark0.read.parquet(s"$stateDir/store_b$l"))
    fold(batch, store).write.mode("overwrite")
      .parquet(s"$stateDir/store_b$batchId")
    commitStreamMeta(Seq(batchId).toDF("last_batch_id"), stateDir, batchId)
  }

  /** The COMMITTED store of a [[checkpointedStoreFold]] stream — reads
    * stream_meta for the last committed batch id and returns that
    * version (never a newer uncommitted snapshot). Fail-loud when
    * nothing has committed. */
  def loadCheckpointedStore(spark: SparkSession, stateDir: String): DataFrame = {
    val row = resolveStreamMeta(spark, stateDir, "loadCheckpointedStore")
      .getOrElse(throw new IllegalStateException(
        s"loadCheckpointedStore: no committed state under $stateDir"))
    spark.read.parquet(s"$stateDir/store_b${row.getAs[Long]("last_batch_id")}")
  }

  /** Sliding-window counts derived from a [[dpContinualCount]] release —
    * window(t, w] = prefix(t) - prefix(t - w) — as PURE POST-PROCESSING of
    * the already-released prefixes: no additional privacy budget, no new
    * noise draws (DP is closed under post-processing). This is the
    * standard way continual-observation counters serve "last 7 days"
    * dashboards: releasing fresh windowed counts per tick would pay
    * budget per release; differencing the prefix sequence is free. The
    * window error is the two prefixes' noise (still O(log^1.5 T / eps)),
    * independent of the window length. Ticks with t < windowTicks
    * difference against prefix(-1) = 0 (the partial leading window).
    * Expects the [[dpContinualCount]] output schema; `keyCols` must match
    * the columns it was released with. */
  def continualWindowCounts(released: DataFrame, keyCols: Seq[String],
      windowTicks: Int): DataFrame =
    continualWindowDiff(released, keyCols, windowTicks,
      "dp_prefix_count", "dp_window_count")

  /** [[continualWindowCounts]] for a [[dpContinualSum]] release — sliding
    * clamped-mass windows ("revenue in the last 7 days" at every tick)
    * from the prefix-sum sequence, the same zero-budget differencing. */
  def continualWindowSums(released: DataFrame, keyCols: Seq[String],
      windowTicks: Int): DataFrame =
    continualWindowDiff(released, keyCols, windowTicks,
      "dp_prefix_sum", "dp_window_sum")

  private def continualWindowDiff(released: DataFrame, keyCols: Seq[String],
      windowTicks: Int, inCol: String, outCol: String): DataFrame = {
    require(windowTicks >= 1, s"windowTicks must be >= 1, got $windowTicks")
    require(released.columns.contains(inCol),
      s"continualWindowDiff: no '$inCol' column — pass the matching " +
        "continual release (count releases difference dp_prefix_count, " +
        "sum releases dp_prefix_sum)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("t"))
    released
      .withColumn("__lagged",
        coalesce(lag(col(inCol), windowTicks).over(w), lit(0.0)))
      .select(col("t") +: keyCols.map(col) :+
        (col(inCol) - col("__lagged")).as(outCol): _*)
  }

  /** DP windowed QUANTILES — the quantile-tree combiner on a stream, under
    * the same per-release budget model as [[dpWindowedCount]]. Contribution
    * bounding must be ORDER-FREE on a stream (the batch engine's random
    * k-of-n subsample has no arrival-order-independent analogue), so the
    * bound here is DROP-NOT-SAMPLE: a unit contributing more than
    * `maxPerCell` values to a (window, keys) cell is EXCLUDED from that
    * cell's release entirely — deterministic, order-free, and strictly
    * within the sensitivity envelope (each included unit touches <=
    * height * maxPerCell node counts). Stage 1 builds one tree + count per
    * (window, unit, keys); stage 2 filters over-cap units and merges
    * surviving trees per cell; the release walks the merged tree with
    * noise on every consulted node (Laplace L1 = height * maxPerCell at
    * l0 = 1 — one cell per release, cross-cell composition is the
    * caller's accounting, as for the count/sum). Chained stateful aggs:
    * streaming needs append mode + watermark; state is one serialized
    * tree per live (window, unit, keys) / (window, keys). Zero noise =>
    * the deterministic tree walk, so batch output is SQL-replayable and
    * streaming must equal batch exactly. */
  def dpWindowedPercentile(
      events: DataFrame,
      pidCol: String,
      tsCol: String,
      valueCol: String,
      keyCols: Seq[String],
      windowLength: String,
      percentiles: Seq[Int],
      epsilon: Double,
      delta: Double,
      maxPerCell: Long,
      lower: Double,
      upper: Double,
      noise: graft.core.NoiseSource,
      noiseKind: graft.core.NoiseKind = graft.core.NoiseKind.Laplace,
      watermark: Option[String] = None
  ): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    require(maxPerCell > 0 && maxPerCell <= Int.MaxValue,
      s"maxPerCell must be in (0, ${Int.MaxValue}], got $maxPerCell — the " +
        "tree walk's Linf bound is an Int; a silent wrap would calibrate " +
        "noise to the WRONG sensitivity")
    require(upper > lower, s"upper ($upper) must be > lower ($lower)")
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 0 && p <= 100),
      s"percentiles must be in [0, 100], got $percentiles")
    val base = watermark.map(w => events.withWatermark(tsCol, w)).getOrElse(events)
    val keyCs = keyCols.map(col)
    // fail loud on NULL values — the perUnitCells convention: the tree
    // aggregate skips a NULL as SQL's aggregates do, while `__n` still
    // counts its row, so a NULL would silently leave the release and still
    // spend the unit's Linf cap
    val checked = when(col(valueCol).isNull, raise_error(lit(
        "StreamOps DP release: NULL value for a privacy unit — the " +
          "quantile tree would silently skip it; filter or " +
          "impute upstream")).cast("double"))
      .otherwise(col(valueCol).cast("double"))
    val tree = graft.functions.QuantileTreeAggregate.column(lower, upper) _
    val perUnit = base
      .groupBy(window(col(tsCol), windowLength) +: col(pidCol) +: keyCs: _*)
      .agg(tree(checked).as("__t"), count(lit(1)).as("__n"))
    val (qs, eps, del, cap, kind, src) =
      (percentiles.map(_ / 100.0), epsilon, delta, maxPerCell.toInt, noiseKind, noise)
    val walk = udf((bytes: Array[Byte]) => {
      val t = graft.core.QuantileTree.deserialize(bytes)
      t.computeQuantiles(qs, eps, del, 1, cap, kind, src).toArray
    }).asNondeterministic() // real noise draws; Zero is still deterministic
    val out = perUnit
      .filter(col("__n") <= maxPerCell) // drop-not-sample Linf bound
      .groupBy(col("window") +: keyCs: _*)
      .agg(tree(col("__t")).as("__m"))
      .select(col("window.start").as("window_start") +: keyCs :+
        walk(col("__m")).as("__p"): _*)
      .select((Seq(col("window_start")) ++ keyCs ++
        percentiles.zipWithIndex.map { case (p, i) =>
          element_at(col("__p"), i + 1).as(s"percentile_$p")
        }): _*)
    pinBatchDraws(out)
  }

  /** LIVE-session tracking via typed state: a user's session closes after
    * `gapSeconds` of PROCESSING-time inactivity (the operational "user went
    * quiet" signal — for event-time sessions over a backfill use
    * [[sessionEventStats]], the session_window arm). State per user is the
    * O(1) [[SessionAcc]] — count, first/last event-time endpoints — NOT an
    * event buffer, so a user who stays active for a week holds five fields
    * of state, not a week of events. */
  def sessionize(events: Dataset[SessionEvent], gapSeconds: Long): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionSummary](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (userId, newEvents, state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val acc = state.getOption
            state.remove()
            acc.map(a => SessionSummary(userId, a.n, a.firstType, a.lastType,
              (a.lastTs - a.firstTs) / 1000)).iterator
          } else {
            val acc = newEvents.foldLeft(state.getOption.orNull) { (a, e) =>
              val t = e.ts.getTime
              if (a == null) SessionAcc(1L, t, e.event_type, t, e.event_type)
              else SessionAcc(a.n + 1,
                if (t < a.firstTs) t else a.firstTs,
                if (t < a.firstTs) e.event_type else a.firstType,
                if (t >= a.lastTs) t else a.lastTs,
                if (t >= a.lastTs) e.event_type else a.lastType)
            }
            if (acc != null) state.update(acc)
            state.setTimeoutDuration(gapSeconds * 1000)
            Iterator.empty
          }
      }
  }

  /** One foreachBatch step of INGEST-TIME near-dup: given a micro-batch of
    * new documents and the accumulated signature store (None on the first
    * batch), returns (per-doc log for this batch, store grown by this
    * batch's signatures). The log merges two match sources with one rule —
    * best = max jaccard, tie -> min id — exactly the global-order
    * semantics of [[graft.ops.Dedup.onlineNearDupLog]]:
    *   (a) WITHIN-batch earlier docs (id order inside the micro-batch),
    *   (b) the store (all previous batches), via the increment-
    *       proportional [[graft.ops.Dedup.incrementalNearDupsFromSigs]]
    *       path — corpus x corpus pairs are never generated.
    * Micro-batches must arrive in ascending id ranges for "earlier" to
    * mean arrival order — and since the LOG semantics silently invert if
    * that contract is violated (a "dup-of-later-doc" row), it is ENFORCED:
    * min(batch id) must exceed max(store id), checked with one bounded
    * aggregation per side against the checkpointed store (r12 streaming
    * review; a replay/backfill uses the batch face directly). */
  def onlineNearDupStep(
      batch: DataFrame,
      store: Option[DataFrame],
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.6): (DataFrame, DataFrame) = {
    store.foreach { st =>
      // type-generic (works for long or string ids): the comparison runs in
      // the plan, one bounded 1x1 cross of the two extrema
      val bad = st.agg(max(col("id")).as("__mx"))
        .crossJoin(batch.agg(min(col(idCol)).as("__mn")))
        .filter(col("__mx") >= col("__mn")).head(1)
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"onlineNearDupStep: batch min id ${bad.head.get(1)} <= store max " +
            s"id ${bad.head.get(0)} — micro-batches must arrive in " +
            "ascending id ranges (the ingest-order contract; 'earlier doc' " +
            "would silently invert). Replays/backfills use the batch face")
    }
    val within = graft.ops.Dedup.onlineNearDupLog(batch, idCol, textCol,
      shingleSize, numBands, rowsPerBand, threshold)
    val log = store match {
      case None => within
      case Some(st) =>
        val vsStore = graft.ops.Dedup.incrementalNearDupsFromSigs(batch, st,
          idCol, textCol, shingleSize, numBands, rowsPerBand, threshold)
        val w = when(col("is_dup") === 1L,
          struct(col("match_jaccard").as("j"), (-col("match_id")).as("nid")))
        val s2 = when(col("__sm").isNotNull,
          struct(col("__sj").as("j"), (-col("__sm")).as("nid")))
        val bestS = greatest(w, s2) // greatest skips nulls: either source alone wins
        within
          .join(vsStore.select(col("id"), col("match_id").as("__sm"),
            col("jaccard").as("__sj")), Seq("id"), "left")
          .select(col("id"),
            when(bestS.isNotNull, 1L).otherwise(0L).as("is_dup"),
            when(bestS.isNotNull, -bestS.getField("nid")).otherwise(lit(-1L))
              .as("match_id"),
            when(bestS.isNotNull, bestS.getField("j")).otherwise(lit(0.0))
              .as("match_jaccard"))
    }
    val sigs = graft.ops.Dedup.minHashWithSigPortable(batch, idCol, textCol,
      shingleSize, numBands * rowsPerBand)
    val grown = store match {
      case None => sigs
      case Some(st) => st.unionByName(sigs).localCheckpoint(false)
    }
    (log, grown)
  }

  /** The whole ingest fold over an ordered sequence of micro-batches —
    * what a production stream's foreachBatch accumulates over time.
    * StreamOpsSpec pins this equal to the one-shot batch face on the
    * concatenated corpus, including through a REAL foreachBatch drive. */
  def onlineNearDupIngest(
      batches: Seq[DataFrame],
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numBands: Int = 16,
      rowsPerBand: Int = 8,
      threshold: Double = 0.6): DataFrame = {
    val (logs, _) = batches.foldLeft((List.empty[DataFrame], Option.empty[DataFrame])) {
      case ((acc, store), b) =>
        val (log, grown) = onlineNearDupStep(b, store, idCol, textCol,
          shingleSize, numBands, rowsPerBand, threshold)
        (log :: acc, Some(grown))
    }
    logs.reverse.reduce(_.unionByName(_))
  }

  /** One micro-batch step of the STREAMING BOUNDED SAMPLE — a <= k-row
    * uniform per-key sample maintained over an unbounded stream (the
    * held-out-set / eval-slice builder: "keep a fair sample of
    * everything that ever flowed through", at O(k x keys) state). The
    * rule is the engine's portable BOTTOM-K-BY-HASH reservoir (the
    * [[graft.ops.CorpusOps]] weightedSample/stratifiedSample/shuffle
    * convention): a row's priority is md5("salt#id"), and the store
    * keeps each key's k smallest (priority, id) rows. min-k is
    * ASSOCIATIVE and IDEMPOTENT, so the fold over ANY batch split —
    * including replays of identical rows — equals the one-shot bottom-k
    * of the union (spec-pinned), there is no ascending-ingest contract
    * to enforce, and unlike classical reservoir sampling the sample is
    * DETERMINISTIC: the gate verifies payloads, not just counts.
    * Uniformity is the hash-order argument: md5 orders ids
    * pseudo-randomly and data-independently, so the bottom-k is a
    * simple random sample of the ids seen so far under any fixed salt
    * (vary the salt to draw a fresh sample; statistical spec pins the
    * inclusion rate).
    *
    * CONTRACT: (keyCols, idCol) identifies ONE payload — a replayed id
    * must carry the identical payload row (the store dedupes on the
    * key+id pair and would otherwise keep an arbitrary copy).
    *
    * Store: (keyCols..., idCol, payload..., __prio), <= k rows per key.
    * Callers checkpoint it between steps (the [[onlineContinualStep]]
    * convention). */
  def onlineReservoirStep(
      batch: DataFrame,
      store: Option[DataFrame],
      keyCols: Seq[String],
      idCol: String,
      k: Int,
      salt: String = "reservoir"
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(!batch.columns.contains("__prio"),
      "onlineReservoirStep: the batch already carries __prio — pass raw " +
        "rows, not a store")
    val keyCs = keyCols.map(col)
    val checkedId = when(col(idCol).isNull, raise_error(lit(
        s"onlineReservoirStep: NULL id '$idCol' — the sample dedupes " +
          "and orders on it; assign ids upstream")).cast(
        batch.schema(idCol).dataType))
      .otherwise(col(idCol)).as(idCol)
    val prioritized = batch
      .withColumn(idCol, checkedId)
      .withColumn("__prio",
        md5(concat(lit(salt), lit("#"), col(idCol).cast("string"))))
    val unioned = store match {
      case None => prioritized
      case Some(st) => st.unionByName(prioritized)
    }
    unioned
      // replayed ids collapse to one slot (content-deterministic under
      // the identical-payload contract)
      .dropDuplicates(keyCols :+ idCol)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keyCs: _*)
          .orderBy(col("__prio").asc, col(idCol).asc)))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Driver-side fold of [[onlineReservoirStep]] over ordered
    * micro-batches, returning the final store — the
    * [[onlineNearDupIngest]] convention (each step's store checkpointed
    * so the fold's lineage stays flat). */
  def onlineReservoirIngest(
      batches: Seq[DataFrame],
      keyCols: Seq[String],
      idCol: String,
      k: Int,
      salt: String = "reservoir"
  ): DataFrame = {
    require(batches.nonEmpty, "onlineReservoirIngest: no batches")
    batches.foldLeft(Option.empty[DataFrame]) { (store, b) =>
      Some(onlineReservoirStep(b, store, keyCols, idCol, k, salt)
        .localCheckpoint(false))
    }.get
  }

  /** One micro-batch of ingest-time record linkage (the
    * [[onlineNearDupStep]] shape for the structured-record ER family):
    * the batch's pairs are the union of within-batch pairs and
    * batch-vs-store pairs — exactly
    * [[graft.ops.RecordLinkage.linkPairsIncremental]] over
    * `store ∪ batch` with the batch as the increment, so each pair is
    * scored ONCE in the step where its later member arrives and
    * store x store pairs are never regenerated. The store is simply the
    * accumulated record frames (same schema as the batches). Unlike the
    * near-dup log, pair semantics are order-free: the fold over ANY
    * batch split of a corpus unions to the one-shot
    * [[graft.ops.RecordLinkage.linkPairs]] output (spec-pinned,
    * including through a real foreachBatch drive). */
  def onlineLinkStep(
      batch: DataFrame,
      store: Option[DataFrame],
      idCol: String,
      blockKeys: Seq[org.apache.spark.sql.Column],
      rules: Seq[graft.ops.FieldRule],
      threshold: Long,
      maxPairsPerRecord: Double = 1000.0): (DataFrame, DataFrame) = {
    // the one-shot identity assumes batch ids are NEW: a replayed id would
    // ride the incremental join as both an old and a new row, so its pairs
    // with other new records generate TWICE (once per orientation arm) and
    // the fold's union no longer equals linkPairs on the concatenated
    // corpus. Enforced IN-PLAN (r13 attribution pass: the r12 driver-side
    // left-semi probe launched one extra job per fold step and carried
    // ~0.4 s of the ss_er regression): a guard ARM unioned into the pairs
    // output — store ids semi-joined against the BROADCAST batch ids
    // (map-side, no shuffle), every replayed id raising from a FILTER
    // predicate. A filter predicate survives column pruning (a projection
    // guard dies under count(*)-style pruning) and the arm is not
    // statically empty, so AQE's empty-relation propagation cannot
    // eliminate it (a 1-row crossJoin guard was — zero-pair steps skipped
    // the check). No replays => the arm contributes zero rows and one
    // cheap map-side scan of the checkpointed store, whenever the step's
    // pairs are evaluated. Fail loud, never silently double-score.
    val pairs = store match {
      case None =>
        graft.ops.RecordLinkage.linkPairs(batch, idCol, blockKeys, rules,
          threshold, maxPairsPerRecord)
      case Some(st) =>
        val all = st.withColumn("__er_isnew", lit(false))
          .unionByName(batch.withColumn("__er_isnew", lit(true)))
        val p0 = graft.ops.RecordLinkage.linkPairsIncremental(all, idCol,
          col("__er_isnew"), blockKeys, rules, threshold, maxPairsPerRecord)
        // the raising filter sits ABOVE a global aggregate: an unguarded
        // raise_error filter on the semi-join output gets predicate-pushed
        // BELOW the join (it references only left-side columns) and fires
        // on every store row; pushdown cannot cross the aggregate, and a
        // global agg emits its one row even on empty input, so neither
        // pruning nor AQE empty-relation propagation can skip the check
        val guardRows = st.select(col(idCol))
          .join(broadcast(batch.select(col(idCol))), Seq(idCol), "left_semi")
          .agg(count(lit(1)).as("__n"), first(col(idCol)).as("__sample"))
          .filter(when(col("__n") > 0, raise_error(concat(
              lit("onlineLinkStep: batch id "), col("__sample").cast("string"),
              lit(" already exists in the store — batches must carry NEW " +
                "ids only (a replay would double-generate its pairs). " +
                "Deduplicate the ingest upstream"))).cast("boolean"))
            .otherwise(lit(false)))
          .select(p0.schema.fields.map(f =>
            lit(null).cast(f.dataType).as(f.name)): _*)
        p0.unionByName(guardRows)
    }
    val grown = store match {
      case None => batch
      case Some(st) => st.unionByName(batch).localCheckpoint(false)
    }
    (pairs, grown)
  }

  /** The whole linkage ingest fold over a sequence of micro-batches —
    * what a production stream's foreachBatch accumulates. Returns the
    * unioned scored pairs; equals the one-shot `linkPairs` on the
    * concatenated corpus for ANY batch split. */
  def onlineLinkIngest(
      batches: Seq[DataFrame],
      idCol: String,
      blockKeys: Seq[org.apache.spark.sql.Column],
      rules: Seq[graft.ops.FieldRule],
      threshold: Long,
      maxPairsPerRecord: Double = 1000.0): DataFrame = {
    val (logs, _) = batches.foldLeft(
      (List.empty[DataFrame], Option.empty[DataFrame])) {
      case ((acc, store), b) =>
        val (pairs, grown) = onlineLinkStep(b, store, idCol, blockKeys,
          rules, threshold, maxPairsPerRecord)
        (pairs :: acc, Some(grown))
    }
    logs.reverse.reduce(_.unionByName(_))
  }

  /** Drives a streaming query over a bounded source to completion into an
    * in-memory table (the local smoke path: batch parquet in, streaming
    * semantics, deterministic result). Returns the result table name. */
  def runToMemory(spark: SparkSession, streamed: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append): StreamingQuery = {
    val q = streamed.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
