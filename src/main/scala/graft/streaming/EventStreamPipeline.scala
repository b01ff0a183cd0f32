package graft.streaming

import graft.pipeline.SnapshotDir
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Structured Streaming form of the event analytics: the same hourly
  * windowed aggregation as the batch query `ev_window_hourly`
  * ([[graft.operators.EventWindows]]), expressed as an incremental stream
  * with a watermark — `readStream` → event-time window → `writeStream`.
  *
  * Scale shape: stateful windowed aggregation partitions state by
  * (window, event_type); the 1-hour watermark bounds state size, so the
  * query runs indefinitely on an unbounded stream without state growth
  * beyond the watermark horizon.
  */
object EventStreamPipeline {

  /** Logical schema of the events stream: ts = epoch ns as a raw long
    * (the same contract as [[graft.queries.Tables.events]]).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Open the events parquet dir as a file stream, normalized to the
    * ns-long `ts` contract. File streams need an explicit schema, and the
    * driver's testdata has shipped `ts` both as nanosecond-unit parquet
    * (long under `nanosAsLong`) and as native `timestamp[us]`, so probe
    * the physical type with a batch footer read and adapt: declare the
    * stream schema with the physical type, then (for the timestamp form)
    * convert to epoch-ns long on the scan output. Downstream windowing is
    * identical either way. An EMPTY source directory (the normal state of
    * a stream started before data arrives) has no footer to probe —
    * fall back to the native `timestamp[us]` form the driver currently
    * generates, so files that arrive later are read with correct units.
    * (The fallback must pick ONE physical world; choosing the legacy
    * ns-long form here would silently read later timestamp-µs files as
    * raw microsecond longs — every window 1000× off. With the timestamp
    * fallback, a legacy ns-long file arriving into an empty-started
    * stream fails loudly on schema mismatch instead; legacy dirs need at
    * least one file present at stream start for the probe to see.)
    *
    * SIDE EFFECT: sets `spark.sql.legacy.parquet.nanosAsLong` on the
    * session and leaves it set — the conf must hold for the stream's
    * whole lifetime (micro-batches read files long after this call
    * returns), so it cannot be save-and-restored. A caller whose session
    * must keep its own setting passes a clone
    * ([[org.apache.spark.sql.graftbridge.DatasetBridge.cloneSession]]),
    * as `EventWindows.drainEvents` does.
    */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val physicalTs =
      try spark.read.parquet(dir).schema("ts").dataType
      catch {
        // "Unable to infer schema" / missing path: nothing arrived yet
        case _: org.apache.spark.sql.AnalysisException => TimestampType
      }
    val physicalSchema = StructType(eventSchema.map {
      case f if f.name == "ts" => f.copy(dataType = physicalTs)
      case f => f
    })
    val reader = spark.readStream.schema(physicalSchema)
    // bound batch size by file count: the lever that turns a pre-split
    // source dir into a guaranteed multi-batch drain (update-mode tests)
    val bounded = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
    normalizeTs(bounded.parquet(dir), physicalTs)
  }

  /** ts normalization shared by the stream and batch readers. For a
    * true TimestampType (an instant) `unix_micros` is tz-independent;
    * for TimestampNTZType the wall-clock is DEFINED as UTC in this
    * contract, and a plain cast would interpret it in the SESSION tz —
    * shifting every epoch by the tz offset for any non-UTC caller — so
    * the wall is first converted from UTC to the session tz, making the
    * session-tz cast land on the UTC instant (probed under a
    * non-UTC session).
    */
  private def normalizeTs(raw: DataFrame, physicalTs: DataType): DataFrame =
    physicalTs match {
      case LongType => raw
      case TimestampNTZType =>
        raw.withColumn("ts", expr(
          "unix_micros(cast(convert_timezone('UTC', current_timezone(), ts) as timestamp)) * 1000L"))
      case _ => // TimestampType
        raw.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
    }

  /** Batch read of an events file directory, normalized to the same
    * ns-long `ts` contract as [[readEvents]] — the batch twin for
    * stream-vs-batch equivalence checks and backfills.
    */
  def readEventsBatch(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(dir)
    normalizeTs(raw, raw.schema("ts").dataType)
  }

  /** Hourly tumbling-window counts + value totals with a 1-hour watermark.
    * Works on both streaming and batch DataFrames (same plan shape).
    */
  def hourlyAgg(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(expr(graft.queries.Tables.fldivExpr("ts", 1000L))))
      .withWatermark("event_time", "1 hour")
      .groupBy(window($"event_time", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(18, 2))).as("total_value"))
      .select($"window.start".as("window_start"), $"event_type", $"n",
        $"total_value")
  }

  /** Hourly tumbling-window fold through a DYNAMIC aggregate UDF
    * (`CREATE AGGREGATE FUNCTION`), watermarked for APPEND-mode output —
    * the production streaming-agg idiom: a window is emitted exactly once,
    * when the watermark passes its end, and its state row is evicted from
    * the store at that moment. State is therefore bounded by the watermark
    * horizon (|open windows| × |event types|), not by stream length — the
    * shape that runs indefinitely, unlike the complete-mode form the
    * `aq_stream_agg` entry proves the fold under. The caller must have
    * registered `fn` (a BIGINT-summing adhesive aggregate) on the session;
    * the input is integer cents so the fold is exact and micro-batch
    * partitioning invariant.
    *
    * Emission/eviction boundary (Spark `WatermarkSupport`): a window is
    * emitted when `window.end <= watermark`, where the watermark is
    * `floor(max event time in ms) - delay` — pinned by
    * StreamingSpec and replicated exactly in the `aq_stream_agg_window`
    * DuckDB oracle.
    */
  def windowedDynAgg(events: DataFrame,
      fn: String = "graft_cents_sum", delay: String = "1 hour"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_micros(expr(graft.queries.Tables.fldivExpr("ts", 1000L))))
      .withWatermark("event_time", delay)
      .select($"event_time", $"event_type",
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy(window($"event_time", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), call_function(fn, $"cents").as("cents_sum"))
      .select($"window.start".as("window_start"), $"event_type", $"n",
        $"cents_sum")
  }

  /** SESSION-window fold through a dynamic aggregate UDF — the gap-merged
    * analogue of [[windowedDynAgg]]'s tumbling windows: Spark's built-in
    * `session_window` assigns each user's events to 30-minute-gap
    * sessions WHILE a `CREATE AGGREGATE FUNCTION` UDF folds their cents,
    * merging partial session states exactly as the sessionizer merges
    * overlapping windows. Event times are truncated to epoch-MILLISECONDS
    * first (the `ev_session_window` discipline — engine and oracle must
    * sessionize the same integers), and the 0-second watermark makes the
    * append-mode emission predicate `session_end <= floor(max event-time
    * ms)`, i.e. `last_ms + gap <= wm` — the same closed-by-watermark
    * predicate the timer sessionizer is oracled under. State is one merged
    * partial per OPEN session, evicted at emission: bounded by the
    * watermark horizon, not stream length.
    */
  def sessionDynAgg(events: DataFrame,
      fn: String = "graft_cents_sum"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time",
        timestamp_millis(expr(graft.queries.Tables.fldivExpr("ts", 1000000L))))
      .withWatermark("event_time", "0 seconds")
      .select($"event_time", $"user_id",
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .groupBy($"user_id", session_window($"event_time", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), call_function(fn, $"cents").as("cents_sum"))
      .select($"user_id", unix_millis($"sw.start").as("session_start_ms"),
        $"n_events", $"cents_sum")
  }

  /** Streaming ingest dedup: at-least-once sources (replayed files,
    * retried batches) deliver duplicates; collapse to one row per
    * event_id. `dropDuplicatesWithinWatermark` keys the dedup state by
    * event_id and evicts entries older than the watermark horizon, so
    * state is O(events per horizon), not O(stream length) — the shape
    * that runs indefinitely at ingest scale.
    */
  def dedup(events: DataFrame): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr(graft.queries.Tables.fldivExpr("ts", 1000L))))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join with an event-time interval condition: each
    * signup joined to that user's purchases within the following 7 days —
    * the incremental form of the batch `ev_funnel` correlation. Both
    * sides carry watermarks and the join condition time-bounds each side
    * relative to the other, so the state store can evict rows once the
    * watermark passes the interval — bounded state on unbounded streams.
    */
  def signupPurchaseJoin(events: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val signups = events.filter($"event_type" === "signup")
      .select($"user_id",
        timestamp_micros(expr(graft.queries.Tables.fldivExpr("ts", 1000L))).as("signup_time"))
      .withWatermark("signup_time", "1 hour")
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"),
        timestamp_micros(expr(graft.queries.Tables.fldivExpr("ts", 1000L))).as("purchase_time"))
      .withWatermark("purchase_time", "1 hour")
    signups.join(purchases, expr(
      """user_id = p_user_id AND
         purchase_time >= signup_time AND
         purchase_time <= signup_time + interval 7 days"""), joinType)
      // full-outer's right-side eviction rows carry a null left user_id
      .select(coalesce($"user_id", $"p_user_id").as("user_id"),
        $"signup_time", $"purchase_time")
  }

  /** SKEW-MITIGATED form of [[signupPurchaseJoin]] — the production
    * shape for a Zipf-head key distribution (one celebrity user taking a
    * double-digit share of the stream): the symmetric hash join
    * partitions state by the equi-key, so ALL of a hot user's rows — its
    * state AND its quadratic `signups x purchases` match fan-out — land
    * on one task. Widening the key to (user_id, salt) spreads that over
    * `salts` tasks: purchases carry a content-derived salt
    * (`xxhash64(event_id) mod salts`), signups are replicated across all
    * salt lanes, and each (signup, purchase) pair still meets exactly
    * once — in the purchase's lane — so the output is IDENTICAL to the
    * unsalted join (`ev_stream_join_salted` hash-matches the unsalted
    * oracle; SCALE.md §"Round-15 join skew"). The cost is explicit: signup-side state x salts;
    * worth paying exactly when the hot key's share, not total volume, is
    * the bottleneck — the same trade [[graft.operators.SkewJoin]] makes
    * for the batch join. INNER-ONLY by construction: an outer form would
    * emit one null-extended eviction row per (signup, salt lane) — k
    * copies of every unmatched signup, and k−1 spurious ones per
    * matched signup; for skew-mitigated LEFT OUTER semantics use
    * [[signupPurchaseJoinOuterSalted]], which inverts the salting so
    * eviction rows stay exact.
    */
  def signupPurchaseJoinSalted(events: DataFrame, salts: Int): DataFrame = {
    // salts = 0 would silently drop every signup (empty explode) and
    // null every p_salt — a green stream emitting zero conversions
    // forever; fail at construction instead
    require(salts >= 1, s"signupPurchaseJoinSalted: salts must be >= 1, got $salts")
    val spark = events.sparkSession
    import spark.implicits._
    val signups = events.filter($"event_type" === "signup")
      .select($"user_id",
        timestamp_micros(expr(graft.queries.Tables.fldivExpr("ts", 1000L)))
          .as("signup_time"),
        explode(lit((0 until salts).toArray)).as("salt"))
      .withWatermark("signup_time", "1 hour")
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"),
        timestamp_micros(expr(graft.queries.Tables.fldivExpr("ts", 1000L)))
          .as("purchase_time"),
        pmod(xxhash64($"event_id"), lit(salts.toLong)).cast("int")
          .as("p_salt"))
      .withWatermark("purchase_time", "1 hour")
    signups.join(purchases, expr(
      """user_id = p_user_id AND salt = p_salt AND
         purchase_time >= signup_time AND
         purchase_time <= signup_time + interval 7 days"""))
      .select($"user_id", $"signup_time", $"purchase_time")
  }

  /** SKEW-MITIGATED LEFT OUTER join — closing the documented inner-only
    * contract of [[signupPurchaseJoinSalted]]. The inner form's scheme
    * (replicate signups across lanes, salt purchases by content) is
    * structurally WRONG for outer semantics: a signup that matched in
    * some lane still evicts null-extended rows from every lane that saw
    * no match — k−1 spurious "did not convert" rows per converted
    * signup, and k duplicates per genuinely unconverted one. No
    * post-filter can repair that locally (whether lane 0's eviction is
    * real depends on the OTHER lanes' matches). So the outer form
    * INVERTS the salting: each signup lives in exactly ONE lane
    * (`xxhash64(event_id) mod salts` — content-derived, deterministic
    * under replay), purchases are REPLICATED across all lanes. Each
    * signup's lane then contains every purchase of its user, so (1)
    * each (signup, purchase) pair meets exactly once, and (2) the
    * signup's single replica evicts one null row iff NO purchase
    * matched globally — eviction rows are exact with zero
    * post-processing, and the output is bit-identical to the unsalted
    * [[signupPurchaseJoinOuter]] (oracled as `ev_stream_join_outer_
    * salted` under the SAME SQL). The skew cut moves with the salted
    * side: the hot user's signup rows — state AND their quadratic
    * match fan-out — spread over `salts` tasks; the stated cost is
    * purchase-side state × salts (the inner form pays signup-side ×
    * salts — pick the form by which side is cheap to replicate).
    * LEFT-OUTER-ONLY by the same style of argument: a FULL outer form
    * would evict each orphan purchase once per lane replica — the
    * right side is now the replicated one — so full-outer salting
    * needs the dual construction or a lane-dedup; use
    * [[signupPurchaseJoinFull]] unsalted for full-outer semantics.
    */
  def signupPurchaseJoinOuterSalted(events: DataFrame,
      salts: Int): DataFrame = {
    require(salts >= 1,
      s"signupPurchaseJoinOuterSalted: salts must be >= 1, got $salts")
    val spark = events.sparkSession
    import spark.implicits._
    val signups = events.filter($"event_type" === "signup")
      .select($"user_id",
        timestamp_micros(expr(graft.queries.Tables.fldivExpr("ts", 1000L)))
          .as("signup_time"),
        pmod(xxhash64($"event_id"), lit(salts.toLong)).cast("int")
          .as("salt"))
      .withWatermark("signup_time", "1 hour")
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"),
        timestamp_micros(expr(graft.queries.Tables.fldivExpr("ts", 1000L)))
          .as("purchase_time"),
        explode(lit((0 until salts).toArray)).as("p_salt"))
      .withWatermark("purchase_time", "1 hour")
    signups.join(purchases, expr(
      """user_id = p_user_id AND salt = p_salt AND
         purchase_time >= signup_time AND
         purchase_time <= signup_time + interval 7 days"""), "leftOuter")
      .select($"user_id", $"signup_time", $"purchase_time")
  }

  /** LEFT OUTER form of [[signupPurchaseJoin]] — the funnel question the
    * inner join can't answer: which signups did NOT convert? A
    * null-extended row for an unmatched signup can only be emitted once
    * the watermark PROVES no purchase can ever arrive in its 7-day
    * interval (the signup's join state is evicted at that moment), so
    * the drained output is the inner matches plus a null row per signup
    * whose conversion window the watermark has closed — unmatched
    * signups still inside the horizon ride in state and emit nothing,
    * exactly the semantics an incremental funnel needs. Same bounded
    * state as the inner form: the interval condition derives both
    * sides' state watermarks.
    */
  def signupPurchaseJoinOuter(events: DataFrame): DataFrame =
    signupPurchaseJoin(events, "leftOuter")

  /** FULL OUTER form — both eviction emissions at once: a null row per
    * closed unconverted signup (as in [[signupPurchaseJoinOuter]]) AND a
    * null row per closed orphan purchase (one whose user can provably
    * never produce a matching signup: any future signup arrives with
    * event time past the watermark, hence past the purchase — emitted
    * when the signup-side watermark passes `purchase_time`). The two
    * sides close on DIFFERENT horizons (wm - 7 d for signups, wm for
    * purchases) because the interval condition is asymmetric — which the
    * entry's oracle states separately per side.
    */
  def signupPurchaseJoinFull(events: DataFrame): DataFrame =
    signupPurchaseJoin(events, "fullOuter")

  /** CHAINED stateful operators in ONE streaming query — at-least-once
    * redelivery collapsed by `dropDuplicatesWithinWatermark`, then an
    * hourly windowed aggregate over the deduped stream, both running in
    * the same micro-batch pipeline (Spark's multi-stateful-operator
    * support: the downstream aggregate admits rows by the PREVIOUS
    * batch's watermark, so dedup-then-aggregate needs no intermediate
    * sink). Append mode: a window is emitted exactly once when the
    * watermark passes its end, state for both operators evicted on the
    * same horizon. The ingest-to-gold shape — exactly-once hourly
    * aggregates over an at-least-once source — in a single query.
    */
  def dedupThenHourlyAgg(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time",
        timestamp_micros(expr(graft.queries.Tables.fldivExpr("ts", 1000L))))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window($"event_time", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)")
          .as("cents_sum"))
      .select($"window.start".as("window_start"), $"event_type", $"n",
        $"cents_sum")
  }

  /** The OTHER chained-stateful shape ([[dedupThenHourlyAgg]] chains
    * dedup→agg): a stream-stream interval JOIN feeding a windowed
    * aggregate in the same query — hourly conversion counts, the
    * incremental funnel rollup. The interesting part is the watermark
    * the aggregate closes windows under: a join DELAYS its output
    * watermark by its state horizon (a match can still emit carrying a
    * signup_time as old as the left state watermark, wm - 7 days), so
    * the downstream aggregate's windows close against the PROPAGATED
    * watermark, not the global one — exactly what Spark's per-operator
    * watermark propagation computes, and what the entry's oracle states
    * in SQL.
    */
  def joinThenHourlyAgg(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    signupPurchaseJoin(events)
      .groupBy(window($"signup_time", "1 hour"))
      .agg(count(lit(1)).as("n_conversions"))
      .select($"window.start".as("window_start"), $"n_conversions")
  }

  /** [[joinThenHourlyAgg]] with the fold running through a `CREATE
    * AGGREGATE FUNCTION` dynamic UDF instead of built-in count — the one
    * composition r14 left untested: the stream-stream join's PROPAGATED
    * watermark (`wm - 7 d`, the join's state horizon) must drive a
    * custom Aggregator's merge/finish exactly as it drives the built-in,
    * window-close emission included. The folded measure is each
    * conversion's signup→purchase delay in µs, so the aggregate result
    * depends on BOTH joined sides, not just the grouping key.
    */
  def joinThenDynAgg(events: DataFrame,
      fn: String = "graft_cents_sum"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    signupPurchaseJoin(events)
      .select($"signup_time",
        (unix_micros($"purchase_time") - unix_micros($"signup_time"))
          .as("delay_us"))
      .groupBy(window($"signup_time", "1 hour"))
      .agg(count(lit(1)).as("n_conversions"),
        call_function(fn, $"delay_us").as("delay_us_sum"))
      .select($"window.start".as("window_start"), $"n_conversions",
        $"delay_us_sum")
  }

  case class Event(event_id: Long, ts: Long, user_id: Long)
  case class OpenSession(startMs: Long, lastMs: Long, n: Long)
  case class Session(user_id: Long, session_start_ms: Long, n_events: Long)

  val SessionGapMs = 1800000L

  /** Gap-based sessionization with explicit per-user state
    * (`flatMapGroupsWithState`): closed sessions are emitted as they
    * complete; the open session rides in the group state across
    * micro-batches. This is the custom-state form of the batch
    * `ev_sessionize` query — state per key is one small record, so state
    * store size is O(active users), independent of stream length.
    */
  /** The ONE sort-then-fold session state machine both state APIs run
    * ([[sessionize]] and [[SessionProcessor]] — a semantic fix made in
    * only one copy would silently break their spec'd equivalence).
    * Events are sorted within the batch; across batches the open
    * session's clock advances MONOTONICALLY (`max(lastMs, e.ts)`): a
    * late event that still merges into the open session must not rewind
    * it, or the next on-time event would look gap-separated and split a
    * session the batch (globally sorted) twin keeps whole.
    */
  private[streaming] def foldSessions(userId: Long,
      prev: Option[OpenSession], batch: Seq[Event])
      : (Option[OpenSession], Seq[Session]) = {
    val sorted = batch.sortBy(e => (e.ts, e.event_id))
    var open = prev
    val closed = Seq.newBuilder[Session]
    sorted.foreach { e =>
      open = open match {
        case Some(s) if e.ts - s.lastMs <= SessionGapMs =>
          Some(s.copy(lastMs = math.max(s.lastMs, e.ts), n = s.n + 1))
        case Some(s) =>
          closed += Session(userId, s.startMs, s.n)
          Some(OpenSession(e.ts, e.ts, 1))
        case None =>
          Some(OpenSession(e.ts, e.ts, 1))
      }
    }
    (open, closed.result())
  }

  def sessionize(events: DataFrame): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("event_id"), expr(graft.queries.Tables.fldivExpr("ts", 1000000L)).as("ts"), col("user_id"))
      .as[Event]

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, events: Iterator[Event], state: GroupState[OpenSession]) =>
          val (open, closed) =
            foldSessions(userId, state.getOption, events.toSeq)
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** Gap-based sessionization on the `transformWithState` API (Spark 4's
    * successor to `flatMapGroupsWithState`): state lives in named, typed
    * handles (`ValueState`) backed by the RocksDB state store, so per-key
    * state is spillable and checkpointed incrementally — the shape for
    * very large active-key populations where the in-memory HDFS-backed
    * store would OOM. Same session semantics as [[sessionize]]; the spec
    * proves the two APIs produce identical closed sessions.
    */
  class SessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, Session] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Session] = {
      val prev = if (open.exists()) Some(open.get()) else None
      val (cur, closed) = foldSessions(userId, prev, rows.toSeq)
      cur.foreach(open.update)
      closed.iterator
    }
  }

  /** [[sessionize]] re-expressed on transformWithState (see
    * [[SessionProcessor]]). Requires the RocksDB state store provider.
    */
  def sessionizeTws(events: DataFrame): Dataset[Session] = {
    val spark = events.sparkSession
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    events
      .select(col("event_id"), expr(graft.queries.Tables.fldivExpr("ts", 1000000L)).as("ts"), col("user_id"))
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  case class TimedEvent(event_id: Long, ts: Long, user_id: Long,
      event_time: java.sql.Timestamp)

  /** [[SessionProcessor]] plus EVENT-TIME TIMERS: the session state
    * machine that also CLOSES idle sessions when the watermark passes
    * their gap deadline, instead of letting each user's final session
    * ride in state forever. Every input batch re-arms a timer at
    * `open.lastMs + gap`; when the watermark passes it,
    * `handleExpiredTimer` emits the session and CLEARS the state row —
    * bounded state on an unbounded stream for CUSTOM state, the same
    * guarantee the windowed-aggregate path gets from its built-in
    * watermark eviction. Stale timers (superseded by later activity that
    * extended the session) are detected by comparing the expiry against
    * the live state's current deadline and ignored.
    */
  class TimedSessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TimedEvent, Session] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[TimedEvent],
        timerValues: TimerValues): Iterator[Session] = {
      val prev = if (open.exists()) Some(open.get()) else None
      val batch = rows.map(t => Event(t.event_id, t.ts, t.user_id)).toSeq
      val (cur, closed) = foldSessions(userId, prev, batch)
      // one pending timer per key, ever: re-arming without deleting the
      // superseded deadline would accumulate a stale (key, expiry) row per
      // micro-batch in the timer store for every continuously-active key
      // (each later firing a no-op), unbounding exactly the state this
      // processor exists to bound
      val prevDeadline = prev.map(_.lastMs + SessionGapMs)
      cur.foreach { o =>
        open.update(o)
        val deadline = o.lastMs + SessionGapMs
        if (!prevDeadline.contains(deadline)) {
          prevDeadline.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(deadline)
        }
      }
      closed.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
      if (!open.exists()) Iterator.empty
      else {
        val o = open.get()
        if (expiredTimerInfo.getExpiryTimeInMs() >= o.lastMs + SessionGapMs) {
          open.clear()
          Iterator.single(Session(userId, o.startMs, o.n))
        } else Iterator.empty // superseded: later activity extended the session
      }
    }
  }

  /** Sessionization that emits EVERY session the watermark can prove
    * closed — gap-split sessions as their closing event arrives, idle
    * tails via event-time timers ([[TimedSessionProcessor]]). With a
    * 0-second watermark delay the drained output is exactly the batch
    * sessions whose `last activity + gap <= floor(max event-time ms)` —
    * the `ev_stream_sessions_timers` oracle states that predicate in
    * SQL. Requires the RocksDB state store provider (timers + typed
    * state handles).
    */
  def sessionizeTimers(events: DataFrame): Dataset[Session] = {
    val spark = events.sparkSession
    import org.apache.spark.sql.streaming.TimeMode
    import spark.implicits._
    events
      .select(col("event_id"),
        expr(graft.queries.Tables.fldivExpr("ts", 1000000L)).as("ts"),
        col("user_id"),
        timestamp_micros(expr(graft.queries.Tables.fldivExpr("ts", 1000L)))
          .as("event_time"))
      .withWatermark("event_time", "0 seconds")
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TimedSessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  case class TypedEventIn(event_id: Long, ts: Long, user_id: Long,
      event_type: String)
  case class UserRunningStats(user_id: Long, event_id: Long,
      n_events: Long, n_distinct_types: Long)

  /** Per-user RUNNING COUNT-DISTINCT via a MapState handle — the state
    * type [[SessionProcessor]]/[[TimedSessionProcessor]] don't exercise,
    * doing a job Catalyst's window operator cannot: Spark rejects
    * `count(DISTINCT …) OVER (… ROWS UNBOUNDED PRECEDING)` outright,
    * while per-key map state implements it as one O(1) probe per row.
    * State per user is the (event_type → count) histogram — bounded by
    * the type vocabulary, not the stream length — plus one total counter.
    *
    * Within a batch, rows fold in (ts, event_id) order (same discipline
    * as [[foldSessions]]); across batches the fold assumes per-user
    * event-time monotonicity, which the single-source drains satisfy —
    * a late cross-batch event would make "so far" counts reflect arrival
    * order, the standard caveat for any running-state stream.
    */
  class RunningDistinctProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TypedEventIn, UserRunningStats] {
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var typeCounts: MapState[String, Long] = _
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      typeCounts = getHandle.getMapState[String, Long]("typeCounts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(userId: Long, rows: Iterator[TypedEventIn],
        timerValues: TimerValues): Iterator[UserRunningStats] = {
      var n = if (total.exists()) total.get() else 0L
      var distinct = if (typeCounts.exists()) typeCounts.keys().size.toLong else 0L
      // materializes ONE user's micro-batch to sort it — bounded by that
      // (user, batch) volume, the same skew caveat the scaladoc gives for
      // cross-batch ordering: a single user hot enough to blow a task's
      // heap here would need a salted key split upstream
      val out = rows.toSeq.sortBy(e => (e.ts, e.event_id)).map { e =>
        n += 1
        val seen = typeCounts.containsKey(e.event_type)
        if (!seen) distinct += 1
        typeCounts.updateValue(e.event_type,
          (if (seen) typeCounts.getValue(e.event_type) else 0L) + 1)
        UserRunningStats(userId, e.event_id, n, distinct)
      }
      total.update(n)
      out.iterator
    }
  }

  /** Shared prelude of the three `transformWithState` running-stats
    * variants: project to the typed row and key by user. One definition
    * so a ts-normalization fix cannot diverge the processors it feeds.
    */
  private def typedByUser(events: DataFrame)
      : org.apache.spark.sql.KeyValueGroupedDataset[Long, TypedEventIn] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"),
        expr(graft.queries.Tables.fldivExpr("ts", 1000000L)).as("ts"),
        col("user_id"), col("event_type"))
      .as[TypedEventIn]
      .groupByKey(_.user_id)
  }

  /** One output row per input event carrying that user's running totals
    * (events so far, distinct event types so far) — the feature-stream
    * shape online models consume. See [[RunningDistinctProcessor]].
    */
  def runningDistinct(events: DataFrame): Dataset[UserRunningStats] = {
    import org.apache.spark.sql.streaming.TimeMode
    val spark = events.sparkSession
    import spark.implicits._
    typedByUser(events)
      .transformWithState(new RunningDistinctProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  case class UserHist(total: Long, counts: Map[String, Long])

  /** TTL'd variant of [[RunningDistinctProcessor]] with ALL-OR-NOTHING
    * per-user expiry: the histogram and the total live in ONE
    * `ValueState[UserHist]`, so a user's state expires as a unit `ttl`
    * after their last event. A MapState-with-TTL version would expire
    * histogram ENTRIES independently of the total (each map entry
    * carries its own last-write time): a user active every ttl/2 but
    * alternating types would see old types' entries vanish while
    * `total` keeps counting — n_distinct_types silently deflating under
    * a live fold, which is neither "idle user restarts" nor "live state
    * untouched". StateTtlSpec pins the consistency case.
    */
  class RunningDistinctTtlProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TypedEventIn, UserRunningStats] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, ValueState}

    @transient private var hist: ValueState[UserHist] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getValueState[UserHist]("hist",
        org.apache.spark.sql.Encoders.product[UserHist], ttl)

    override def handleInputRows(userId: Long, rows: Iterator[TypedEventIn],
        timerValues: TimerValues): Iterator[UserRunningStats] = {
      var h = if (hist.exists()) hist.get() else UserHist(0L, Map.empty)
      // same bounded per-(user, batch) sort caveat as the TTL-less form
      val out = rows.toSeq.sortBy(e => (e.ts, e.event_id)).map { e =>
        h = UserHist(h.total + 1,
          h.counts.updated(e.event_type,
            h.counts.getOrElse(e.event_type, 0L) + 1))
        UserRunningStats(userId, e.event_id, h.total, h.counts.size.toLong)
      }
      hist.update(h)
      out.iterator
    }
  }

  /** [[runningDistinct]] with per-user state TTL — the production guard
    * the TTL-less form lacks: on an unbounded user population, one
    * (histogram, total) state row per user EVER SEEN grows without bound;
    * with a `TTLConfig` every state row expires `ttl` after its last
    * write, so state is bounded by the population active within one TTL
    * horizon. TTL is PROCESSING-time-based in Spark (it guards against
    * state growth, not event-time semantics), which makes the output
    * wall-clock-dependent — a user idle past the TTL restarts from
    * (1, 1) — so this variant is spec-verified (StateTtlSpec proves
    * expiry both semantically and in the state-store row count), not
    * oracle-checked. Requires `TimeMode.ProcessingTime` (Spark rejects
    * TTL'd handles under `TimeMode.None`).
    *
    * Drain caveat: in processing-time mode Spark's
    * `shouldRunAnotherBatch` is unconditionally true, so with no-data
    * micro-batches enabled (the default) the query re-triggers empty
    * batches forever and `processAllAvailable()` never returns. Callers
    * that drain-and-assert must set
    * `spark.sql.streaming.noDataMicroBatches.enabled=false` (TTL sweeps
    * still run on every data batch, across all state partitions).
    */
  def runningDistinctTtl(events: DataFrame,
      ttl: java.time.Duration): Dataset[UserRunningStats] = {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    typedByUser(events)
      .transformWithState(new RunningDistinctTtlProcessor(TTLConfig(ttl)),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  case class UserFlush(user_id: Long, n_events: Long, flushed: Boolean)
  case class Pending(n: Long, deadline: Long)

  /** PROCESSING-time timers — the remaining [[TimeMode]]: wall-clock
    * deadlines instead of watermark ones. Each input batch re-arms a
    * per-user timer `idleMs` of PROCESSING time ahead; if no further
    * activity re-arms it first, the expiry fires on a later micro-batch,
    * EMITS the user's accumulated count as a flush row and CLEARS the
    * state — the idle-key eviction idiom for sources with no usable
    * event time. Inherently wall-clock-dependent (which batch a flush
    * lands in depends on arrival timing), so spec-level only
    * (StateTtlSpec): a deterministic oracle cannot exist. Same
    * one-timer-per-key discipline as [[TimedSessionProcessor]] — the
    * superseded deadline is deleted on re-arm. Same drain caveat as
    * [[runningDistinctTtl]]: processing-time mode re-triggers no-data
    * batches forever, so draining tests disable
    * `spark.sql.streaming.noDataMicroBatches.enabled` (expired timers
    * then fire on the next data batch past their deadline).
    */
  class IdleFlushProcessor(idleMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TypedEventIn, UserFlush] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}

    @transient private var pending: ValueState[Pending] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getValueState[Pending]("pending",
        org.apache.spark.sql.Encoders.product[Pending], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[TypedEventIn],
        timerValues: TimerValues): Iterator[UserFlush] = {
      val prev = if (pending.exists()) Some(pending.get()) else None
      val n = prev.map(_.n).getOrElse(0L) + rows.size
      val deadline = timerValues.getCurrentProcessingTimeInMs() + idleMs
      prev.foreach(p => getHandle.deleteTimer(p.deadline))
      getHandle.registerTimer(deadline)
      pending.update(Pending(n, deadline))
      Iterator.single(UserFlush(userId, n, flushed = false))
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[UserFlush] = {
      if (!pending.exists()) Iterator.empty
      else {
        val p = pending.get()
        // a deadline superseded by later activity was deleted on re-arm;
        // a firing timer that still matches the live deadline flushes
        if (expiredTimerInfo.getExpiryTimeInMs() >= p.deadline) {
          pending.clear()
          Iterator.single(UserFlush(userId, p.n, flushed = true))
        } else Iterator.empty
      }
    }
  }

  /** Per-user idle flush on processing-time timers (see
    * [[IdleFlushProcessor]]). Requires the RocksDB state store provider.
    */
  def idleFlush(events: DataFrame, idleMs: Long): Dataset[UserFlush] = {
    import org.apache.spark.sql.streaming.TimeMode
    val spark = events.sparkSession
    import spark.implicits._
    typedByUser(events)
      .transformWithState(new IdleFlushProcessor(idleMs),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Distributed keyed-upsert merge — the `foreachBatch` sink primitive.
    * The existing snapshot is anti-joined against the batch's keys (rows
    * whose key the batch re-emitted are superseded), unioned with the
    * batch, and written as a NEW snapshot directory that is then swapped
    * into place via the Hadoop FS API. No row ever passes through the
    * driver, so the pattern holds at any key cardinality: both sides are
    * partitioned datasets and AQE broadcasts whichever side of the
    * anti-join is small. The write-then-rename swap is the file-system
    * stand-in for a table format's atomic MERGE INTO commit (on object
    * stores a real table format supplies the atomicity; the upsert plan —
    * anti-join + union — is identical). Re-running a batch after a crash
    * re-merges the same keys to the same values (updates are full
    * per-key aggregates, not deltas), so re-merge is idempotent and, with
    * the recovery path below, the checkpoint gives at-least-once delivery
    * with idempotent remerge — effectively exactly-once for these
    * full-aggregate updates. The swap itself is not atomic on a plain
    * filesystem: a reader racing the two renames can observe the target
    * momentarily absent (a real table format supplies that atomicity;
    * this sink assumes the single-writer/serving-reader split). Crash
    * safety: every rename's boolean result is checked (Hadoop
    * `rename` reports failure by returning false, not throwing); a crash
    * between the two renames leaves the only complete snapshot in
    * `.staging` (with its `_SUCCESS` marker) or `.old`, and the next
    * batch's entry path promotes that survivor back to the target before
    * merging; the retired copy is deleted only after the promoted target
    * proves readable.
    *
    * The staging/swap/recovery state machine itself lives in
    * [[graft.pipeline.SnapshotDir]] (promoted from a nested class here
    * so [[graft.pipeline.Layout.compactZorder]] shares the contract).
    *
    * @return the merged snapshot, re-read from the swapped-in directory
    */
  private def mergeSnapshot(batch: DataFrame, targetDir: String,
      keyCols: Seq[String]): DataFrame = {
    val s = batch.sparkSession
    val snap = new SnapshotDir(s, targetDir)
    snap.recover()
    val merged =
      if (!snap.targetExists) batch
      else s.read.parquet(targetDir)
        .join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(batch)
    merged.write.mode("overwrite").parquet(snap.stagingPath)
    snap.swapIn()
  }

  /** Full-replace publish through the same swap discipline — for derived
    * outputs (the anomaly flag set) a monitoring reader may poll at any
    * moment: a plain overwrite would expose a deleted-then-partial dir
    * every micro-batch.
    */
  private def publishSnapshot(df: DataFrame, targetDir: String): Unit = {
    val snap = new SnapshotDir(df.sparkSession, targetDir)
    snap.recover()
    df.write.mode("overwrite").parquet(snap.stagingPath)
    snap.swapIn()
    ()
  }

  /** Streaming anomaly monitor — the incremental twin of the batch
    * `ev_anomaly` query. The engine maintains running (event_type, day)
    * counts (update-mode streaming aggregation: each micro-batch emits
    * only keys whose count changed); `foreachBatch` merges them into the
    * daily store and re-evaluates the 2σ outlier test over the merged
    * dailies, publishing the current anomaly set. The test stays in pure
    * integer arithmetic — (n·D − S)² > 4·(SS·D − S²) — so the monitor's
    * flags converge to exactly the batch query's rows once the backlog
    * drains. Per-batch work is O(changed keys) for the merge plus one
    * aggregate over the (|types|·|days|)-row store; at scale the store is
    * a real table format and the stats re-aggregation stays tiny because
    * its input is already day-grain.
    */
  def anomalyMonitor(spark: SparkSession, srcDir: String,
      dailyDir: String, flagsDir: String, checkpointDir: String): Unit = {
    import spark.implicits._
    val DayUs = 86400L * 1000000L
    val daily = readEvents(spark, srcDir)
      .select(col("event_type"),
        expr(s"(${graft.queries.Tables.fldivExpr(graft.queries.Tables.fldivExpr("ts", 1000L), DayUs)})")
          .as("day"))
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"))
    val q = daily.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val mergedDf = mergeSnapshot(batch.toDF(), dailyDir,
          Seq("event_type", "day"))
        val stats = mergedDf.groupBy($"event_type".as("et"))
          .agg(count(lit(1)).as("d"), sum($"n").as("s"),
            sum($"n" * $"n").as("ss"))
        publishSnapshot(
          mergedDf.join(stats, $"event_type" === $"et")
            .filter(($"n" * $"d" - $"s") * ($"n" * $"d" - $"s") >
              lit(4L) * ($"ss" * $"d" - $"s" * $"s"))
            .select($"event_type", $"day", $"n")
            .coalesce(1),
          flagsDir)
      }
      .start()
    q.awaitTermination()
  }

  /** Incremental upsert into a keyed serving table via `foreachBatch` +
    * `Trigger.AvailableNow`: per-type running totals, merged key-wise each
    * micro-batch through [[mergeSnapshot]] — a fully distributed
    * anti-join + union, no driver-side state at any key cardinality.
    * This is the generic sink pattern for stores without native streaming
    * support — the batch writer runs inside the streaming query with
    * exactly-once tracking from the checkpoint. AvailableNow drains the
    * backlog to completion and stops: the scheduled-incremental form
    * (cron-driven catch-up) used when a resident streaming cluster isn't
    * warranted. Totals aggregate exact decimals so re-merging is
    * order-independent.
    */
  def upsertTypeTotals(spark: SparkSession, srcDir: String,
      targetDir: String, checkpointDir: String): Unit = {
    import spark.implicits._
    val updates = readEvents(spark, srcDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2))
          .as("total_value"))
    val q = updates.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        mergeSnapshot(batch.toDF(), targetDir, Seq("event_type"))
        ()
      }
      .start()
    q.awaitTermination()
  }
}
