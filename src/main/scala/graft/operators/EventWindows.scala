package graft.operators

import graft.queries.RelationalQueries.Q
import graft.queries.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge

/** Time-window aggregation over the event stream table — the batch form of
  * the Structured Streaming pipeline in [[graft.streaming]] (same grouping
  * logic; the streaming variant adds a watermark and runs incrementally).
  * Buckets are computed in integral epoch-µs arithmetic so the DuckDB
  * oracle matches exactly (see [[Tables.events]] for the ns-unit story).
  */
object EventWindows {

  private val HourUs = 3600L * 1000000L

  /** Source bytes per streaming state-store instance. r20 used 32 MB
    * (sized against per-store fixed cost: per-batch load/commit plus
    * Spark 4's global provider-init lock); r21 re-measured with the
    * STATEFUL per-row compute in the balance — a transformWithState
    * or RocksDB drain does far more work per input byte than a shuffle
    * consumer, so the optimum sits much lower. Measured at sf0.1
    * (~11 MB drained source): 32 MB → 1 store serialized
    * ev_stream_running_distinct's whole update on one task (3.4 s
    * steady-state); 4 MB → 3 stores, 3.4 s; 1 MB → 11 stores, 2.1 s;
    * r20's 32-store baseline was the lock-contention pathology. The
    * divisor only governs the ramp — at scale the [[statePartitions]]
    * cap dominates regardless.
    */
  private val StatePartitionBytes = 1L * 1024 * 1024

  /** The [[drainEvents]] state-store instance count for a drain of
    * `srcBytes` input on a `cores`-core session: grows with data
    * (`ceil(bytes / StatePartitionBytes)`, floor 1 for the KB harness
    * drains) and is CLAMPED at `max(cores × 4, 4096)`. That cap is 4,096
    * on any session under 1,024 cores and `cores × 4` above it, so on
    * the sessions this repo runs it is a flat 4,096 stores, reached at
    * a 4 GB source — not a small factor of the session's parallelism.
    * Uncapped, a 100 TB drained source would ask for millions of
    * state-store instances, far past practical task-launch and
    * per-batch store load/commit overhead. The cap has not been
    * measured against a smaller one.
    */
  private[operators] def statePartitions(srcBytes: Long, cores: Int): Long = {
    val raw = (srcBytes + StatePartitionBytes - 1) / StatePartitionBytes
    val cap = math.max(cores.toLong * 4L, 4096L)
    math.min(math.max(1L, raw), cap)
  }

  val hourly: Q = Q(
    "ev_window_hourly",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select(expr(s"(${Tables.fldivExpr(Tables.fldivExpr("ts", 1000L), HourUs)}) * $HourUs")
          .as("window_start_us"),
          $"event_type", $"value")
        .groupBy($"window_start_us", $"event_type")
        .agg(count(lit(1)).as("n"),
          Tables.asDec(sum(Tables.dec2($"value")), 2).as("total_value"))
        .orderBy($"window_start_us", $"event_type")
    },
    Some(s"""SELECT (epoch_us(ts) // $HourUs) * $HourUs AS window_start_us,
      event_type, count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type"""))

  /** Gap-based sessionization (30-minute inactivity gap), batch form: the
    * lag-flag-cumsum idiom. Each user's events are ordered by (ts, id), a
    * new session starts when the gap from the previous event exceeds the
    * threshold, and the running count of session starts numbers the
    * sessions. Shuffles once on user_id; everything else is window work
    * within the partition. The streaming twin with explicit state lives in
    * [[graft.streaming.EventStreamPipeline.sessionize]].
    */
  val sessionize: Q = Q(
    "ev_sessionize",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val GapMs = 1800000L
      // Range-spread on user_id up front: one exchange serves the two
      // window passes, the session aggregate AND the final orderBy
      // (prefix rule), where the naive plan pays a hash exchange that
      // AQE coalesces to ONE partition (1.3 MB of shuffle bytes) — the
      // profiled plan ran lag/cumsum/aggregate as three sequential
      // 1-task stages. Explicit range partitioning keeps the CPU-dense
      // window work on all cores and drops the second exchange.
      val ev = Tables.spreadRange(Tables.events(s, d)
        .select($"user_id", $"event_id", Tables.fdiv("ts", 1000000L).as("ts_ms")),
        $"user_id")
      val byTime = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
      val flagged = ev.withColumn("new_session",
        when(lag($"ts_ms", 1).over(byTime).isNull ||
          $"ts_ms" - lag($"ts_ms", 1).over(byTime) > GapMs, 1L).otherwise(0L))
      flagged
        .withColumn("session_id", sum($"new_session").over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"session_id")
        .agg(min($"ts_ms").as("session_start_ms"),
          count(lit(1)).as("n_events"))
        .orderBy($"user_id", $"session_id")
    },
    Some("""WITH e AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
      f AS (
        SELECT user_id, event_id, ts_ms,
          CASE WHEN lag(ts_ms, 1) OVER w IS NULL
                 OR ts_ms - lag(ts_ms, 1) OVER w > 1800000 THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      g AS (
        SELECT user_id, ts_ms,
          CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM f)
      SELECT user_id, session_id, min(ts_ms) AS session_start_ms,
        count(*) AS n_events
      FROM g GROUP BY user_id, session_id
      ORDER BY user_id, session_id"""))

  /** Conversion funnel: users whose first 'signup' is followed by a
    * 'purchase' within 7 days. Self-join shape on user_id with an
    * event-time range predicate — at scale both sides shuffle once on the
    * same key, and the range filter runs within the co-partitioned join.
    */
  val funnel: Q = Q(
    "ev_funnel",
    (s, d) => {
      import s.implicits._
      val WeekMs = 7L * 24 * 3600 * 1000
      val ev = Tables.events(s, d)
        .select($"user_id", $"event_type", Tables.fdiv("ts", 1000000L).as("ts_ms"))
      val signups = ev.filter($"event_type" === "signup")
        .groupBy($"user_id").agg(min($"ts_ms").as("signup_ms"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts_ms".as("purchase_ms"))
      signups.join(purchases, "user_id")
        .filter($"purchase_ms" >= $"signup_ms" &&
          $"purchase_ms" <= $"signup_ms" + WeekMs)
        .groupBy($"user_id", $"signup_ms")
        .agg(count(lit(1)).as("n_purchases_7d"),
          min($"purchase_ms").as("first_purchase_ms"))
        .orderBy($"user_id")
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      s AS (SELECT user_id, min(ts_ms) AS signup_ms FROM e
            WHERE event_type = 'signup' GROUP BY user_id),
      p AS (SELECT user_id, ts_ms AS purchase_ms FROM e WHERE event_type = 'purchase')
      SELECT s.user_id, s.signup_ms,
        count(*) AS n_purchases_7d, min(p.purchase_ms) AS first_purchase_ms
      FROM s JOIN p ON s.user_id = p.user_id
        AND p.purchase_ms >= s.signup_ms
        AND p.purchase_ms <= s.signup_ms + 604800000
      GROUP BY s.user_id, s.signup_ms ORDER BY s.user_id"""))

  /** As-of join, Spark-first: for every purchase, the user's latest view
    * at-or-before it. Instead of a per-row range join (quadratic blowup on
    * hot users), union both event kinds into one stream per user and
    * carry the last view timestamp forward with an IGNORE NULLS window —
    * one shuffle on user_id, one sort, linear scan. This is the scalable
    * shape for as-of/temporal joins when the probe and build sides share
    * a partition key.
    */
  val asof: Q = Q(
    "ev_asof_last_view",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val ev = Tables.events(s, d)
        .filter($"event_type".isin("view", "purchase"))
        .select($"event_id", $"user_id", $"event_type",
          Tables.fdiv("ts", 1000000L).as("ts_ms"))
      val w = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_view_ms",
          last(when($"event_type" === "view", $"ts_ms"), ignoreNulls = true)
            .over(w))
        .filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id",
          $"ts_ms".as("purchase_ms"), $"last_view_ms")
        .orderBy($"purchase_id")
    },
    Some("""WITH ev AS (
        SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        FROM events WHERE event_type IN ('view', 'purchase')),
      carried AS (
        SELECT event_id, user_id, event_type, ts_ms,
          last_value(CASE WHEN event_type = 'view' THEN ts_ms END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ms
        FROM ev)
      SELECT event_id AS purchase_id, user_id, ts_ms AS purchase_ms, last_view_ms
      FROM carried WHERE event_type = 'purchase' ORDER BY purchase_id"""))

  /** Value-based (RANGE) window frame: per user, how many of their events
    * fell in the trailing hour at each event — the rolling-rate primitive
    * (rate limiting, burst detection). RANGE frames bound by the ordering
    * value, so ties are handled identically in both engines.
    */
  val rollingRate: Q = Q(
    "ev_rolling_rate",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val HourMs = 3600000L
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id", Tables.fdiv("ts", 1000000L).as("ts_ms"))
      val w = Window.partitionBy($"user_id").orderBy($"ts_ms")
        .rangeBetween(-HourMs, 0)
      ev.select($"event_id", $"user_id", $"ts_ms",
          count(lit(1)).over(w).as("events_last_hour"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
      count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                     RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        AS events_last_hour
      FROM events ORDER BY event_id"""))

  /** Cohort retention: users grouped by their first-active day, counted
    * again on each later day they return, reported as (cohort_day,
    * day_offset, n_users) for offsets 0–7. One scan: events collapse to
    * distinct user-days, the cohort day is a window `min` over the
    * user_id partition (no self-aggregate + join, which would re-scan the
    * input), then one re-aggregation over the tiny cohort×offset key
    * space. All day math is integral floor division on epoch values.
    */
  val retention: Q = Q(
    "ev_retention",
    (s, d) => {
      import s.implicits._
      val DayUs = 86400L * 1000000L
      val dayExpr = s"(${Tables.fldivExpr(Tables.fldivExpr("ts", 1000L), DayUs)})"
      Tables.events(s, d)
        .select($"user_id", expr(dayExpr).as("day"))
        .distinct()
        .withColumn("cohort_day",
          min($"day").over(org.apache.spark.sql.expressions.Window
            .partitionBy($"user_id")))
        .select($"user_id", $"cohort_day", ($"day" - $"cohort_day").as("day_offset"))
        .filter($"day_offset" <= 7)
        // ev is already distinct (user_id, day), so each user contributes
        // one row per offset — plain count, no count-distinct expand
        .groupBy($"cohort_day", $"day_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy($"cohort_day", $"day_offset")
    },
    Some("""WITH ev AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      c AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
      SELECT c.cohort_day, ev.day - c.cohort_day AS day_offset,
        count(*) AS n_users
      FROM ev JOIN c ON ev.user_id = c.user_id
      WHERE ev.day - c.cohort_day <= 7
      GROUP BY 1, 2 ORDER BY cohort_day, day_offset"""))

  /** Top event-type transitions: each user's time-ordered event sequence
    * viewed as (prev_type → next_type) bigrams, counted corpus-wide —
    * the path-analysis primitive (next-action prediction, funnel
    * discovery). One shuffle on user_id for the lag window, then a
    * map-side-combined count over the tiny type×type key space; the
    * top-k is a TakeOrderedAndProject. (event_id breaks timestamp ties,
    * so the sequence — and the counts — are deterministic.)
    */
  val eventPaths: Q = Q(
    "ev_event_paths",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val byTime = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"event_type",
          Tables.fdiv("ts", 1000000L).as("ts_ms"))
        .withColumn("prev_type", lag($"event_type", 1).over(byTime))
        .filter($"prev_type".isNotNull)
        .groupBy($"prev_type", $"event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"prev_type", $"event_type")
        .limit(20)
    },
    Some("""WITH seq AS (
        SELECT user_id, event_type,
          lag(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY epoch_ms(ts), event_id) AS prev_type
        FROM events)
      SELECT prev_type, event_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
      ORDER BY n DESC, prev_type, event_type LIMIT 20"""))

  /** Last-touch attribution: each purchase is credited to the nearest
    * preceding non-purchase event of the same user ('direct' when the
    * purchase is the user's first event). The carry-forward is the same
    * IGNORE-NULLS window idiom as [[asof]] with a `1 PRECEDING` frame end
    * (the purchase itself must not self-attribute) — one shuffle on
    * user_id, then a tiny channel-keyed aggregate. Revenue sums as exact
    * decimals (order-free), surfaced as double.
    */
  val attribution: Q = Q(
    "ev_attribution",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id", $"event_type", $"value",
          Tables.fdiv("ts", 1000000L).as("ts_ms"))
      val w = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      ev.withColumn("last_touch",
          last(when($"event_type" =!= "purchase", $"event_type"),
            ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase")
        .groupBy(coalesce($"last_touch", lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          Tables.asDec(sum(Tables.dec2($"value")), 2).as("total_value"))
        .orderBy($"channel")
    },
    Some("""WITH e AS (
        SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
        FROM events),
      c AS (
        SELECT *, last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
            IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        FROM e)
      SELECT coalesce(last_touch, 'direct') AS channel,
        count(*) AS n_purchases,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM c WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY channel"""))

  /** Daily-volume anomaly days per event type — the monitoring readout over
    * an event stream (traffic spikes, incident detection). The outlier
    * test |n − μ| > 2σ is evaluated entirely in integer arithmetic:
    * with D days, S = Σn, SS = Σn², the test is
    * (n·D − S)² > 4·(SS·D − S²) — both sides exact BIGINTs, so no float
    * mean/stddev ever exists to diverge between engines (at 100 TB daily
    * counts the squared terms need DECIMAL(38,0), same shape). One
    * map-side-combined daily count, one tiny per-type stats aggregate
    * joined back broadcast-sized.
    */
  val anomaly: Q = Q(
    "ev_anomaly",
    (s, d) => {
      import s.implicits._
      val DayUs = 86400L * 1000000L
      val dayExpr = s"(${Tables.fldivExpr(Tables.fldivExpr("ts", 1000L), DayUs)})"
      val daily = Tables.events(s, d)
        .select($"event_type", expr(dayExpr).as("day"))
        .groupBy($"event_type", $"day")
        .agg(count(lit(1)).as("n"))
      val stats = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("d"), sum($"n").as("s"),
          sum($"n" * $"n").as("ss"))
      daily.join(broadcast(stats), "event_type")
        .filter(($"n" * $"d" - $"s") * ($"n" * $"d" - $"s") >
          lit(4L) * ($"ss" * $"d" - $"s" * $"s"))
        .select($"event_type", $"day", $"n")
        .orderBy($"event_type", $"day")
    },
    Some("""WITH daily AS (
        SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS n
        FROM events GROUP BY 1, 2),
      stats AS (
        SELECT event_type, count(*) AS d, sum(n) AS s, sum(n*n) AS ss
        FROM daily GROUP BY 1)
      SELECT daily.event_type, day, n
      FROM daily JOIN stats ON daily.event_type = stats.event_type
      WHERE (n*d - s)*(n*d - s) > 4*(ss*d - s*s)
      ORDER BY 1, 2"""))

  /** Strict-order 3-step funnel (view → click → purchase within 7 days of
    * the first view): each later step's timestamp is the user's first
    * event of that type AFTER the previous step — the sequential-milestone
    * carry that simple min-per-type funnels get wrong (a click before the
    * first view must not count). Three conditional mins with the
    * carry expressed as conditional aggregation over one user_id shuffle;
    * output is the per-step conversion count — the numbers a funnel chart
    * plots. The IGNORE-NULLS-free formulation keeps every aggregate a
    * plain min, so partial aggregation applies at scale.
    */
  val funnel3: Q = Q(
    "ev_funnel3",
    (s, d) => {
      import s.implicits._
      val WeekMs = 7L * 24 * 3600 * 1000
      val ev = Tables.events(s, d)
        .select($"user_id", $"event_type", Tables.fdiv("ts", 1000000L).as("ts_ms"))
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts_ms").as("t_view"))
      val c = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts_ms".as("tc"))
        .join(v, "user_id")
        .filter($"tc" > $"t_view" && $"tc" <= $"t_view" + WeekMs)
        .groupBy($"user_id").agg(min($"tc").as("t_click"), min($"t_view").as("t_view"))
      val p = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts_ms".as("tp"))
        .join(c, "user_id")
        .filter($"tp" > $"t_click" && $"tp" <= $"t_view" + WeekMs)
        .groupBy($"user_id").agg(min($"tp").as("t_purchase"))
      v.select(lit("1_view").as("step"), $"user_id")
        .union(c.select(lit("2_click").as("step"), $"user_id"))
        .union(p.select(lit("3_purchase").as("step"), $"user_id"))
        .groupBy($"step").agg(count(lit(1)).as("n_users"))
        .orderBy($"step")
    },
    Some("""WITH e AS (
        SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      v AS (SELECT user_id, min(ts_ms) AS t_view FROM e
            WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, min(e.ts_ms) AS t_click, min(v.t_view) AS t_view
            FROM e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts_ms > v.t_view
              AND e.ts_ms <= v.t_view + 604800000
            GROUP BY e.user_id),
      p AS (SELECT e.user_id, min(e.ts_ms) AS t_purchase
            FROM e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts_ms > c.t_click
              AND e.ts_ms <= c.t_view + 604800000
            GROUP BY e.user_id)
      SELECT step, count(*) AS n_users FROM (
        SELECT '1_view' AS step, user_id FROM v
        UNION ALL SELECT '2_click', user_id FROM c
        UNION ALL SELECT '3_purchase', user_id FROM p)
      GROUP BY step ORDER BY step"""))

  /** Built-in `session_window` sessionization — the native operator twin
    * of [[sessionize]]'s hand-rolled lag-flag-cumsum idiom (and of the
    * streaming state-API variants): same 30-minute gap, one shuffle on
    * the session key. Event times are truncated to epoch-MILLISECONDS
    * *before* `session_window`, so the engine and the oracle sessionize
    * the same integers — a µs-precision engine against a ms-precision
    * oracle diverges for gaps inside (1800000 ms, 1800001 ms): the
    * engine splits (1800000500 µs > the 30-min gap) while the oracle's
    * floor-divided gap is exactly 1800000 ms and merges. Boundary rule,
    * pinned empirically by SessionBoundarySpec: Spark MERGES an event at
    * exactly session-end (its merge test is eventStart <= currentEnd,
    * so touching windows coalesce), which is precisely the lag oracle's
    * strict `> 1800000` new-session comparator — with both sides on ms
    * integers the built-in operator and [[sessionize]]'s lag idiom agree
    * on every gap, boundaries included.
    */
  val sessionWindow: Q = Q(
    "ev_session_window",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"user_id",
          expr(s"timestamp_millis(${Tables.fldivExpr("ts", 1000000L)})").as("t"))
        .groupBy($"user_id", session_window($"t", "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id",
          expr("unix_millis(sw.start)").as("session_start_ms"),
          $"n_events")
        .orderBy($"user_id", $"session_start_ms")
    },
    Some("""WITH e AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
      f AS (
        SELECT user_id, event_id, ts_ms,
          CASE WHEN lag(ts_ms, 1) OVER w IS NULL
                 OR ts_ms - lag(ts_ms, 1) OVER w > 1800000 THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      g AS (
        SELECT user_id, ts_ms,
          sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM f)
      SELECT user_id, min(ts_ms) AS session_start_ms, count(*) AS n_events
      FROM g GROUP BY user_id, session_id
      ORDER BY user_id, session_start_ms"""))

  /** Churn detection — the retention complement: users active in the
    * window's first span but silent in its final 7 days, bucketed by
    * lifetime activity. The observation horizon is derived from the DATA
    * (max event day — deterministic, any engine), not wall-clock; one
    * aggregate per user, then an integral day comparison and a tiny
    * bucket rollup. The per-user aggregate and the max-day scalar reuse
    * the same scan; the scalar joins back as a 1-row broadcast, never a
    * driver collect.
    */
  val churn: Q = Q(
    "ev_churn",
    (s, d) => {
      import s.implicits._
      val DayUs = 86400L * 1000000L
      val dayExpr = s"(${Tables.fldivExpr(Tables.fldivExpr("ts", 1000L), DayUs)})"
      val perUser = Tables.events(s, d)
        .select($"user_id", expr(dayExpr).as("day"))
        .groupBy($"user_id")
        .agg(min($"day").as("first_day"), max($"day").as("last_day"),
          count(lit(1)).as("n_events"))
      val horizon = perUser.agg(max($"last_day").as("h"))
      // activity quartiles via ntile (total order: events, then user_id),
      // so the report always has 4 populated cohorts at any corpus shape
      perUser.crossJoin(broadcast(horizon))
        .withColumn("cohort", ntile(4).over(
          org.apache.spark.sql.expressions.Window
            .orderBy($"n_events", $"user_id")).cast("long"))
        .select($"cohort", ($"last_day" <= $"h" - 7).as("churned"))
        .groupBy($"cohort")
        .agg(count(lit(1)).as("n_users"),
          sum(when($"churned", 1L).otherwise(0L)).as("n_churned"))
        .orderBy($"cohort")
    },
    Some("""WITH u AS (
        SELECT user_id, min(epoch_us(ts) // 86400000000) AS first_day,
          max(epoch_us(ts) // 86400000000) AS last_day,
          count(*) AS n_events
        FROM events GROUP BY user_id),
      h AS (SELECT max(last_day) AS h FROM u),
      q AS (SELECT n_events, last_day,
              CAST(ntile(4) OVER (ORDER BY n_events, user_id) AS BIGINT) AS cohort
            FROM u)
      SELECT cohort, count(*) AS n_users,
        CAST(sum(CASE WHEN last_day <= h - 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
      FROM q, h GROUP BY cohort ORDER BY cohort"""))

  /** DAU / trailing-7-day WAU / stickiness per day — the engagement
    * readout every product dashboard serves. Events collapse to distinct
    * user-days FIRST (the only corpus-sized shuffle); both counts then
    * run at day grain: DAU is a plain distinct count, WAU joins each day
    * against its trailing week of user-days (a bounded 7× fan-out of the
    * tiny user-day table, never of raw events). Stickiness divides the
    * two exact longs — one correctly-rounded double, identical on both
    * engines.
    */
  val dauWau: Q = Q(
    "ev_dau_wau",
    (s, d) => {
      import s.implicits._
      val DayUs = 86400L * 1000000L
      val dayExpr = s"(${Tables.fldivExpr(Tables.fldivExpr("ts", 1000L), DayUs)})"
      val ud = Tables.events(s, d)
        .select($"user_id", expr(dayExpr).as("day")).distinct().cache()
      val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
      // day spine is |calendar days| rows at any corpus size — declare it
      // as the broadcast side of the 7-day range join
      val wau = ud.join(broadcast(ud.select($"day".as("d")).distinct()),
          $"day".between($"d" - 6, $"d"))
        .groupBy($"d").agg(countDistinct($"user_id").as("wau"))
      dau.join(wau, $"day" === $"d")
        .select($"day", $"dau", $"wau",
          ($"dau".cast("double") / $"wau").as("stickiness"))
        .orderBy($"day")
    },
    Some("""WITH ud AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
      wau AS (SELECT d.day AS d, count(DISTINCT ud.user_id) AS wau
              FROM (SELECT DISTINCT day FROM ud) d
              JOIN ud ON ud.day BETWEEN d.day - 6 AND d.day
              GROUP BY d.day)
      SELECT dau.day, dau.dau, wau.wau,
        CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
      FROM dau JOIN wau ON dau.day = wau.d
      ORDER BY day"""))

  /** The SAME hourly aggregation as [[hourly]], but executed through the
    * REAL Structured Streaming pipeline ([[graft.streaming
    * .EventStreamPipeline.hourlyAgg]]): the events table is copied into a
    * file-stream source dir, drained to completion (complete-mode memory
    * sink, `processAllAvailable`), and the sink table is returned in the
    * batch query's shape. Sharing `ev_window_hourly`'s DuckDB oracle
    * makes the driver re-prove STREAM == BATCH every round — the
    * equivalence StreamingSpec pins locally becomes an externally
    * hash-checked fact. Complete mode is what makes the drained result
    * total (append mode would withhold windows the final watermark never
    * passes); state is |hours|×|event types|, bounded.
    */
  val streamHourly: Q = Q(
    "ev_stream_hourly",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_hourly_sink", copies = 1,
        outputMode = "complete",
        pipeline = graft.streaming.EventStreamPipeline.hourlyAgg,
        shape = _.select(unix_micros($"window_start").as("window_start_us"),
            $"event_type", $"n",
            $"total_value".cast("double").as("total_value"))
          .orderBy($"window_start_us", $"event_type"))
    },
    Some(s"""SELECT (epoch_us(ts) // $HourUs) * $HourUs AS window_start_us,
      event_type, count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type"""))

  private val CentsSumDdl =
    """CREATE OR REPLACE AGGREGATE FUNCTION graft_cents_sum(BIGINT) RETURNS BIGINT LANGUAGE JAVA AS '
      |import graft.adhesive.AdhesiveAggregate;
      |import org.apache.spark.sql.Row;
      |public class CentsSum extends AdhesiveAggregate {
      |  public Object zero() { return 0L; }
      |  public Object reduce(Object s, Row in) {
      |    return in.isNullAt(0) ? s : (Long) s + in.getLong(0);
      |  }
      |  public Object merge(Object a, Object b) { return (Long) a + (Long) b; }
      |}
      |'""".stripMargin

  /** A DYNAMIC aggregate UDF inside a real Structured Streaming job,
    * under the driver's DuckDB oracle — the cross-feature proof that
    * `CREATE AGGREGATE FUNCTION` compiles on the driver, ships bytecode
    * in the closure, and folds map-side partials inside streaming
    * micro-batches exactly as in batch. Integer-cents arithmetic keeps
    * the drained complete-mode result bit-equal to the batch SQL oracle
    * regardless of micro-batch boundaries (each batch is one more
    * partial-merge order, which the exact fold is invariant to).
    */
  val streamDynamicAgg: Q = Q(
    "aq_stream_agg",
    (s, d) => {
      import s.implicits._
      graft.adhesive.AdhesiveDdl.execute(s, CentsSumDdl)
      drainEvents(s, d, "graft_stream_dynagg_sink", copies = 1,
        outputMode = "complete",
        pipeline = ev => ev
          .select($"event_type",
            expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
              .as("cents"))
          .groupBy($"event_type")
          .agg(call_function("graft_cents_sum", $"cents").as("cents_sum")),
        shape = _.orderBy($"event_type"))
    },
    Some("""SELECT event_type,
      CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        AS cents_sum
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** The WATERMARKED, APPEND-mode form of [[streamDynamicAgg]] — the
    * production streaming-aggregate idiom the complete-mode entry can't
    * prove: hourly windows fold through the dynamic aggregate UDF, each
    * window is emitted exactly once when the watermark passes its end,
    * and its state row is evicted at that moment (bounded state on an
    * unbounded stream — StreamingSpec asserts the eviction). The drained
    * sink holds only CLOSED windows, so the oracle is the batch hourly
    * aggregate restricted to windows whose end precedes the final
    * watermark. Spark's boundary semantics are replicated exactly: the
    * watermark is `floor(max event-time in MILLISECONDS) - 1 hour`
    * (EventTimeWatermarkExec accumulates event times in ms) and a window
    * is emitted iff `window_end <= watermark` (WatermarkSupport's
    * LessThanOrEqual eviction predicate) — both floored-ms arithmetic and
    * the <= comparison appear verbatim in the DuckDB SQL below.
    */
  val streamDynamicAggWindow: Q = Q(
    "aq_stream_agg_window",
    (s, d) => {
      import s.implicits._
      graft.adhesive.AdhesiveDdl.execute(s, CentsSumDdl)
      drainEvents(s, d, "graft_stream_dynagg_win_sink", copies = 1,
        outputMode = "append",
        pipeline = graft.streaming.EventStreamPipeline.windowedDynAgg(_),
        shape = _.select(unix_micros($"window_start").as("window_start_us"),
            $"event_type", $"n", $"cents_sum")
          .orderBy($"window_start_us", $"event_type"))
    },
    Some(s"""WITH wm AS (
        SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events)
      SELECT (epoch_us(ts) // $HourUs) * $HourUs AS window_start_us,
        event_type, count(*) AS n,
        CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
          AS cents_sum
      FROM events, wm GROUP BY 1, 2, wm_us
      HAVING window_start_us + $HourUs <= wm_us
      ORDER BY window_start_us, event_type"""))

  /** The UPDATE-mode form of [[streamDynamicAggWindow]] — the low-latency
    * dashboard idiom, and the one output mode the dynamic aggregate had
    * never run under: every micro-batch RE-EMITS each changed window's
    * current partial fold, so the sink accumulates a history of
    * monotonically growing partials per (window, event_type) and the LAST
    * emission per key is that key's complete aggregate. The drain is
    * forced genuinely multi-batch (the corpus is re-split into four part
    * files fed one per trigger — single-batch update mode would
    * degenerate into the complete-mode proof, enforced via
    * `minDataBatches = 2`), and the watermark delay is wide enough that
    * no split-induced out-of-order row is ever late-dropped. The standard
    * update-mode drain idiom keeps the final update per key: each
    * re-emission of a key carries a strictly larger `n` (update mode only
    * emits keys that received rows), so "last" is "max n" — a
    * deterministic dedup needing no batch ids. The deduped result equals
    * the batch aggregate over ALL windows (update mode emits open windows
    * too), which is exactly the oracle. StreamingSpec additionally pins
    * the intermediate emissions as monotone partial folds.
    */
  val streamDynamicAggUpdate: Q = Q(
    "aq_stream_agg_update",
    (s, d) => {
      import s.implicits._
      graft.adhesive.AdhesiveDdl.execute(s, CentsSumDdl)
      drainEvents(s, d, "graft_stream_dynagg_upd_sink", copies = 1,
        outputMode = "update",
        // 365 days: the delay only needs to EXCEED the corpus span so no
        // split-induced out-of-order row is ever late-dropped. The events
        // corpus spans ~29d23h59m — "30 days" left ~46 s of headroom, one
        // testdata regeneration away from mid-drain evictions silently
        // diverging the oracle; a year of slack makes the margin visible
        pipeline = ev => graft.streaming.EventStreamPipeline
          .windowedDynAgg(ev, delay = "365 days"),
        shape = df => {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy($"window_start", $"event_type").orderBy($"n".desc)
          df.withColumn("rk", row_number().over(w)).filter($"rk" === 1)
            .select(unix_micros($"window_start").as("window_start_us"),
              $"event_type", $"n", $"cents_sum")
            .orderBy($"window_start_us", $"event_type")
        },
        splitParts = 4, maxFilesPerTrigger = Some(1), minDataBatches = 2)
    },
    Some(s"""SELECT (epoch_us(ts) // $HourUs) * $HourUs AS window_start_us,
      event_type, count(*) AS n,
      CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        AS cents_sum
      FROM events GROUP BY 1, 2
      ORDER BY window_start_us, event_type"""))

  /** A dynamic aggregate UDF inside Spark's built-in SESSION windows
    * ([[graft.streaming.EventStreamPipeline.sessionDynAgg]]) — the
    * gap-merged streaming fold neither the tumbling-window entries nor
    * the custom-state sessionizers cover: `session_window` merges
    * overlapping per-user windows WHILE the `CREATE AGGREGATE FUNCTION`
    * fold merges their partial states, and append mode emits each session
    * exactly once when the watermark passes its end (`last_ms + gap <=
    * floor(max event-time ms)`, 0-second delay — the same
    * closed-by-watermark predicate `ev_stream_sessions_timers` is oracled
    * under, stated verbatim in the SQL below over the lag-flag-cumsum
    * sessionization the built-in operator is boundary-pinned against).
    */
  val streamDynamicAggSession: Q = Q(
    "aq_stream_agg_session",
    (s, d) => {
      import s.implicits._
      graft.adhesive.AdhesiveDdl.execute(s, CentsSumDdl)
      drainEvents(s, d, "graft_stream_dynagg_sess_sink", copies = 1,
        outputMode = "append",
        pipeline = ev => graft.streaming.EventStreamPipeline.sessionDynAgg(ev),
        shape = _.select($"user_id", $"session_start_ms", $"n_events",
            $"cents_sum")
          .orderBy($"user_id", $"session_start_ms"))
    },
    Some("""WITH e AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
          CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events),
      f AS (
        SELECT user_id, event_id, ts_ms, cents,
          CASE WHEN lag(ts_ms, 1) OVER w IS NULL
                 OR ts_ms - lag(ts_ms, 1) OVER w > 1800000 THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      g AS (
        SELECT user_id, ts_ms, cents,
          CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM f),
      sess AS (
        SELECT user_id, session_id, min(ts_ms) AS session_start_ms,
          max(ts_ms) AS session_last_ms, count(*) AS n_events,
          CAST(sum(cents) AS BIGINT) AS cents_sum
        FROM g GROUP BY user_id, session_id),
      wm AS (SELECT max(epoch_ms(ts)) AS m FROM events)
      SELECT user_id, session_start_ms, n_events, cents_sum
      FROM sess, wm WHERE session_last_ms + 1800000 <= m
      ORDER BY user_id, session_start_ms"""))

  /** Shared scaffold for the `ev_stream_*` oracle entries: copy the
    * events table into a fresh file-stream source dir (`copies` > 1
    * simulates at-least-once redelivery of the same file under new
    * names), run `pipeline` through a memory sink to completion, hand
    * the sink table to `shape`, and tear everything down.
    *
    * `splitParts` > 0 rewrites the corpus into that many part files
    * instead of copying the original parts, and `maxFilesPerTrigger`
    * bounds each micro-batch's file intake — together they force a
    * genuinely MULTI-batch drain (the update-mode entries need one; a
    * single-file copy always drains in one batch). `minDataBatches` /
    * `maxDataBatches` bound how many micro-batches may carry input rows:
    * entries whose oracle depends on the whole corpus folding in ONE
    * batch (cross-batch arrival order is unspecified for running-state
    * outputs) pin max=1 and fail loudly if a testdata or trigger change
    * ever splits the drain; update-mode entries pin min=2 so the
    * re-emission path is actually exercised, not vacuously green.
    * `rocksDbState` selects the RocksDB state-store provider, which the
    * timer and typed-state APIs require.
    *
    * The stream runs on a clone of `s` ([[DatasetBridge.cloneSession]])
    * that carries the drain's conf: the state-store count
    * ([[statePartitions]]), the provider, and `nanosAsLong` for
    * [[graft.streaming.EventStreamPipeline.readEvents]] and the split
    * rewrite. `s` is never written, so a batch query planned on it
    * mid-drain sees its own conf. The clone also gets `s`'s streaming
    * listeners, so they see the drain's progress. The drained rows are
    * shaped and checkpointed in `s`, and the sink view is dropped from
    * the clone.
    */
  private def drainEvents(s: org.apache.spark.sql.SparkSession, d: String,
      sink: String, copies: Int, outputMode: String,
      pipeline: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      shape: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      splitParts: Int = 0,
      maxFilesPerTrigger: Option[Int] = None,
      minDataBatches: Int = 0,
      maxDataBatches: Int = Int.MaxValue,
      rocksDbState: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    // the split branch rewrites the corpus and never consults `copies`:
    // an entry asking for both would get NO duplicate delivery while its
    // oracle claimed to prove redelivery collapse — fail loudly instead
    require(copies == 1 || splitParts == 0,
      s"drainEvents: copies=$copies is silently ignored when " +
        s"splitParts=$splitParts > 0 — combine them explicitly if needed")
    val provider =
      if (rocksDbState) Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      else Nil
    val cloned = DatasetBridge.cloneSession(s,
      ("spark.sql.legacy.parquet.nanosAsLong" -> "true") +: provider: _*)
    s.streams.listListeners().foreach(cloned.streams.addListener)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-evs-src")
    // everything after dir creation sits inside the try: a pipeline
    // construction or start() failure must still clean up the copied
    // corpus files, or repeated rounds accumulate orphaned copies
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val copied = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    try {
      val src = java.nio.file.Paths.get(s"$d/events.parquet")
      // A parquet "table" is legitimately either one file (the driver's
      // current testdata) or a directory of part files (any real writer's
      // output). A single-file assumption here would silently drop every
      // part but one after a testdata regeneration — copy all data parts,
      // skipping writer metadata (_SUCCESS, .crc), and fail loudly on a
      // directory that contains none.
      val parts: Seq[java.nio.file.Path] =
        if (java.nio.file.Files.isDirectory(src)) {
          val stream = java.nio.file.Files.list(src)
          val ps = try {
            scala.jdk.CollectionConverters.IteratorHasAsScala(stream.iterator())
              .asScala
              .filter { p =>
                val n = p.getFileName.toString
                java.nio.file.Files.isRegularFile(p) &&
                  !n.startsWith("_") && !n.startsWith(".")
              }
              .toVector.sortBy(_.getFileName.toString)
          } finally stream.close()
          if (ps.isEmpty) {
            throw new IllegalArgumentException(
              s"$src is a directory with no data files — cannot feed the " +
                "event stream from an empty parquet table")
          }
          ps
        } else Seq(src)
      if (splitParts > 0) {
        // rewrite the corpus into splitParts files: read RAW (no ts
        // normalization — the rewritten files keep a physical ts type
        // readEvents' footer probe understands) and round-robin rows;
        // move only the data parts into the source dir, as any real
        // multi-file arrival would look
        val tmp = java.nio.file.Files.createTempDirectory("graft-evs-split")
        try {
          cloned.read.parquet(src.toString).repartition(splitParts)
            .write.mode("overwrite").parquet(tmp.toString)
          val ps = java.nio.file.Files.list(tmp)
          val dataParts = try {
            scala.jdk.CollectionConverters.IteratorHasAsScala(ps.iterator())
              .asScala
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .toVector.sortBy(_.getFileName.toString)
          } finally ps.close()
          dataParts.zipWithIndex.foreach { case (p, j) =>
            val dst = srcDir.resolve(f"events-split-$j%05d.parquet")
            copied += dst
            java.nio.file.Files.move(p, dst)
          }
        } finally {
          val leftover = java.nio.file.Files.list(tmp)
          try scala.jdk.CollectionConverters.IteratorHasAsScala(leftover.iterator())
            .asScala.toVector.foreach(java.nio.file.Files.deleteIfExists(_))
          finally leftover.close()
          java.nio.file.Files.deleteIfExists(tmp)
        }
      } else {
        (0 until copies).foreach { i =>
          parts.zipWithIndex.foreach { case (p, j) =>
            val dst = srcDir.resolve(f"events-$i%03d-$j%05d.parquet")
            // record BEFORE copying: a mid-copy failure (disk full) must
            // still get its partial file cleaned up, or the finally's
            // srcDir delete throws DirectoryNotEmptyException and masks
            // the real error
            copied += dst
            java.nio.file.Files.copy(p, dst)
          }
        }
      }
      // State-store instances (= shuffle partitions at checkpoint
      // creation) are sized to the SOURCE VOLUME, not the session core
      // count (guide §2.2 partition sizing, "derive from input size"):
      // every instance pays a fixed per-batch load/commit cost, and
      // Spark 4 serializes provider initialization on the global
      // loadedProviders lock — profiled at 32 partitions the two join
      // micro-batch stages spent 147 s of task time blocked there
      // (every task's runtime ≈ the stage wall) vs 9.3 s at 8. A fresh
      // checkpoint per entry makes the setting per-drain; it is set on
      // the clone only.
      val srcBytes = copied.map(java.nio.file.Files.size(_)).sum
      cloned.conf.set("spark.sql.shuffle.partitions", statePartitions(srcBytes,
        s.sparkContext.defaultParallelism).toString)
      q = pipeline(graft.streaming.EventStreamPipeline
          .readEvents(cloned, srcDir.toString, maxFilesPerTrigger))
        .writeStream.outputMode(outputMode)
        .format("memory").queryName(sink)
        .start()
      q.processAllAvailable()
      if (minDataBatches > 0 || maxDataBatches < Int.MaxValue) {
        // the oracle's batching assumption must hold for REAL, not by
        // luck (round-13 ADVICE on ev_stream_running_distinct): a
        // single-batch oracle fed a split drain produces arrival-ordered
        // running state; an update-mode entry drained in one batch never
        // exercises re-emission at all
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        if (dataBatches < minDataBatches || dataBatches > maxDataBatches) {
          throw new IllegalStateException(
            s"$sink: oracle requires [$minDataBatches, " +
              s"${if (maxDataBatches == Int.MaxValue) "∞" else maxDataBatches}] " +
              s"data-carrying micro-batches but the drain used $dataBatches " +
              "— a testdata or trigger change altered the batching this " +
              "entry's semantics depend on")
        }
      }
      // materialize before the stream (and its state) is torn down, in
      // the caller's session: the batch half plans under its conf
      shape(DatasetBridge.ofRows(s, cloned.table(sink).queryExecution.analyzed))
        .localCheckpoint()
    } finally {
      if (q != null) {
        q.stop()
        cloned.catalog.dropTempView(sink)
      }
      copied.foreach(java.nio.file.Files.deleteIfExists(_))
      java.nio.file.Files.deleteIfExists(srcDir)
    }
  }

  /** Streaming ingest dedup under the driver's oracle: the source dir
    * holds the SAME events file TWICE under different names — the
    * at-least-once redelivery every file stream eventually sees — and
    * `dropDuplicatesWithinWatermark` must collapse it back to exactly
    * one row per event_id (batch-1 duplicates collapse in state;
    * a second-batch redelivery is late beyond the watermark and is
    * dropped before the operator — either batching yields the distinct
    * set). Oracle: the events table itself.
    */
  val streamDedup: Q = Q(
    "ev_stream_dedup",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_dedup_sink", copies = 2,
        outputMode = "append",
        pipeline = graft.streaming.EventStreamPipeline.dedup,
        shape = _.select($"event_id",
            expr(Tables.fldivExpr("ts", 1000L)).as("ts_us"),
            $"user_id", $"event_type", $"value")
          .orderBy($"event_id"))
    },
    Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        value
      FROM events ORDER BY event_id"""))

  /** Stream-stream interval join under the driver's oracle: each signup
    * joined to the same user's purchases within the following 7 days
    * ([[graft.streaming.EventStreamPipeline.signupPurchaseJoin]], both
    * sides watermarked, the condition time-bounding state eviction).
    * The single source file drains as one micro-batch, so every match
    * emits before any watermark advances — the drained result is the
    * complete batch join, which is exactly what the oracle computes.
    */
  val streamJoin: Q = Q(
    "ev_stream_join",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_join_sink", copies = 1,
        outputMode = "append",
        pipeline = graft.streaming.EventStreamPipeline.signupPurchaseJoin(_),
        shape = _.select($"user_id",
            unix_micros($"signup_time").as("signup_us"),
            unix_micros($"purchase_time").as("purchase_us"))
          .orderBy($"user_id", $"signup_us", $"purchase_us"))
    },
    Some("""SELECT s.user_id, epoch_us(s.ts) AS signup_us,
        epoch_us(p.ts) AS purchase_us
      FROM events s JOIN events p
        ON s.user_id = p.user_id
        AND s.event_type = 'signup' AND p.event_type = 'purchase'
        AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
      ORDER BY 1, 2, 3"""))

  /** The SKEW-MITIGATED join under the driver's oracle — and
    * deliberately the SAME oracle SQL as [[streamJoin]]: the salted form
    * ([[graft.streaming.EventStreamPipeline.signupPurchaseJoinSalted]],
    * key widened to (user_id, xxhash64(event_id) mod 4) with the signup
    * side replicated per lane) is only a production mitigation if it is
    * SEMANTICS-PRESERVING, so the strongest check is a hash match
    * against the unsalted join's declarative definition. Each (signup,
    * purchase) pair meets exactly once — in the purchase's salt lane —
    * hence identical rows; SCALE.md §"Round-15 join skew" quantifies the
    * skew/state trade this form exists for.
    */
  val streamJoinSalted: Q = Q(
    "ev_stream_join_salted",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_join_salt_sink", copies = 1,
        outputMode = "append",
        pipeline = graft.streaming.EventStreamPipeline
          .signupPurchaseJoinSalted(_, salts = 4),
        shape = _.select($"user_id",
            unix_micros($"signup_time").as("signup_us"),
            unix_micros($"purchase_time").as("purchase_us"))
          .orderBy($"user_id", $"signup_us", $"purchase_us"))
    },
    Some("""SELECT s.user_id, epoch_us(s.ts) AS signup_us,
        epoch_us(p.ts) AS purchase_us
      FROM events s JOIN events p
        ON s.user_id = p.user_id
        AND s.event_type = 'signup' AND p.event_type = 'purchase'
        AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
      ORDER BY 1, 2, 3"""))

  /** ONE statement of the left-outer join's declarative truth, shared
    * verbatim by `ev_stream_join_outer` and its salted twin — a hash
    * match of both entries against the SAME SQL is the
    * semantics-preservation proof for the salting. Boundary semantics
    * replicated here: the global watermark is `floor(max event-time
    * ms) - 1 h`, the left state watermark subtracts the 7-day interval
    * bound (`StreamingJoinHelper.getStateValueWatermark`), and
    * eviction is STRICT (`signup_time < state watermark` —
    * WatermarkSupport's less-than on value watermarks). Nulls are
    * folded to -1 on both sides: the pandas-replica checker is
    * dtype-sensitive and a nullable BIGINT would land as float64.
    */
  private val OuterJoinOracleSql = """WITH wm AS (
        SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events),
      s AS (SELECT user_id, ts, epoch_us(ts) AS signup_us
        FROM events WHERE event_type = 'signup'),
      p AS (SELECT user_id, ts, epoch_us(ts) AS purchase_us
        FROM events WHERE event_type = 'purchase'),
      m AS (SELECT s.user_id, s.signup_us, p.purchase_us
        FROM s JOIN p ON s.user_id = p.user_id
          AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY),
      u AS (SELECT s.user_id, s.signup_us, CAST(-1 AS BIGINT) AS purchase_us
        FROM s, wm
        WHERE s.signup_us < wm.wm_us - 604800000000
          AND NOT EXISTS (SELECT 1 FROM p
            WHERE p.user_id = s.user_id
              AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY))
      SELECT * FROM m UNION ALL SELECT * FROM u
      ORDER BY user_id, signup_us, purchase_us"""

  /** LEFT OUTER stream-stream interval join under the driver's oracle —
    * the eviction-EMISSION semantics the inner form never exercises: a
    * null-extended row for an unconverted signup is emitted only when
    * the signup's join state is evicted, i.e. when the purchase-side
    * watermark proves its 7-day conversion window empty forever. The
    * drained sink is therefore the inner matches PLUS one null row per
    * closed-and-unmatched signup; unmatched signups still inside the
    * horizon emit nothing (they ride in state). Eviction-boundary and
    * dtype details on [[OuterJoinOracleSql]], the SQL this entry shares
    * with its salted twin.
    */
  val streamJoinOuter: Q = Q(
    "ev_stream_join_outer",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_join_outer_sink", copies = 1,
        outputMode = "append",
        pipeline = graft.streaming.EventStreamPipeline.signupPurchaseJoinOuter,
        shape = _.select($"user_id",
            unix_micros($"signup_time").as("signup_us"),
            coalesce(unix_micros($"purchase_time"), lit(-1L))
              .as("purchase_us"))
          .orderBy($"user_id", $"signup_us", $"purchase_us"))
    },
    Some(OuterJoinOracleSql))

  /** The SKEW-MITIGATED LEFT OUTER join under the driver's oracle — and
    * deliberately the SAME oracle SQL as [[streamJoinOuter]], eviction
    * rows included: [[graft.streaming.EventStreamPipeline
    * .signupPurchaseJoinOuterSalted]] INVERTS the inner salted form's
    * scheme (signups content-salted into one lane each, purchases
    * replicated across lanes) precisely so the null-extended eviction
    * rows stay exact — each signup has a single replica whose lane sees
    * every purchase of its user, so it evicts one null row iff no
    * purchase matched globally. The replicate-signups scheme would emit
    * k−1 spurious eviction rows per CONVERTED signup, which no local
    * lane filter can repair; this hash match (matches AND eviction
    * rows, salts = 4) is the proof the inversion closes that.
    * SCALE.md §"Round-16 outer join skew" quantifies the hot-share cut.
    */
  val streamJoinOuterSalted: Q = Q(
    "ev_stream_join_outer_salted",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_join_outer_salt_sink", copies = 1,
        outputMode = "append",
        pipeline = graft.streaming.EventStreamPipeline
          .signupPurchaseJoinOuterSalted(_, salts = 4),
        shape = _.select($"user_id",
            unix_micros($"signup_time").as("signup_us"),
            coalesce(unix_micros($"purchase_time"), lit(-1L))
              .as("purchase_us"))
          .orderBy($"user_id", $"signup_us", $"purchase_us"))
    },
    Some(OuterJoinOracleSql))

  /** FULL OUTER stream-stream interval join under the driver's oracle —
    * both sides' eviction emissions in one drain: the inner matches, a
    * -1-purchase row per signup whose 7-day window the watermark has
    * closed unmatched (left eviction, horizon `wm - 7 d`, as in
    * `ev_stream_join_outer`), AND a -1-signup row per orphan purchase
    * the signup-side watermark has passed (right eviction, horizon
    * `wm` — asymmetric because the interval condition is: a future
    * signup's event time exceeds the watermark, hence exceeds the
    * purchase, hence can't satisfy `purchase >= signup`). Both horizons
    * appear separately in the SQL.
    */
  val streamJoinFull: Q = Q(
    "ev_stream_join_full",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_join_full_sink", copies = 1,
        outputMode = "append",
        pipeline = graft.streaming.EventStreamPipeline.signupPurchaseJoinFull,
        shape = _.select($"user_id",
            coalesce(unix_micros($"signup_time"), lit(-1L)).as("signup_us"),
            coalesce(unix_micros($"purchase_time"), lit(-1L))
              .as("purchase_us"))
          .orderBy($"user_id", $"signup_us", $"purchase_us"))
    },
    Some("""WITH wm AS (
        SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events),
      s AS (SELECT user_id, ts, epoch_us(ts) AS signup_us
        FROM events WHERE event_type = 'signup'),
      p AS (SELECT user_id, ts, epoch_us(ts) AS purchase_us
        FROM events WHERE event_type = 'purchase'),
      m AS (SELECT s.user_id, s.signup_us, p.purchase_us
        FROM s JOIN p ON s.user_id = p.user_id
          AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY),
      u AS (SELECT s.user_id, s.signup_us, CAST(-1 AS BIGINT) AS purchase_us
        FROM s, wm
        WHERE s.signup_us < wm.wm_us - 604800000000
          AND NOT EXISTS (SELECT 1 FROM p
            WHERE p.user_id = s.user_id
              AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY)),
      v AS (SELECT p.user_id, CAST(-1 AS BIGINT) AS signup_us, p.purchase_us
        FROM p, wm
        WHERE p.purchase_us < wm.wm_us
          AND NOT EXISTS (SELECT 1 FROM s
            WHERE s.user_id = p.user_id
              AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY))
      SELECT * FROM m UNION ALL SELECT * FROM u UNION ALL SELECT * FROM v
      ORDER BY user_id, signup_us, purchase_us"""))

  /** Stream-stream JOIN chained into a windowed aggregate in one query
    * ([[graft.streaming.EventStreamPipeline.joinThenHourlyAgg]]) — the
    * incremental funnel rollup, and the chaining case where watermark
    * PROPAGATION is visible in the result: the join delays its output
    * watermark by its state horizon (an old signup can still emit a
    * match until the watermark passes its 7-day interval), so the
    * downstream aggregate closes an hour window only once the PROPAGATED
    * watermark `wm - 7 days` passes its end. The oracle states exactly
    * that: conversion counts per signup-hour over the batch interval
    * join, restricted to `window_end <= (floor(max ms) - 1 h) - 7 d`.
    */
  val streamJoinWindow: Q = Q(
    "ev_stream_join_window",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_join_win_sink", copies = 1,
        outputMode = "append",
        pipeline = graft.streaming.EventStreamPipeline.joinThenHourlyAgg,
        shape = _.select(unix_micros($"window_start").as("window_start_us"),
            $"n_conversions")
          .orderBy($"window_start_us"))
    },
    Some(s"""WITH wm AS (
        SELECT (epoch_ms(max(ts)) - 3600000) * 1000 - 604800000000 AS pwm_us
        FROM events),
      m AS (SELECT epoch_us(s.ts) AS signup_us
        FROM events s JOIN events p ON s.user_id = p.user_id
          AND s.event_type = 'signup' AND p.event_type = 'purchase'
          AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY)
      SELECT (signup_us // $HourUs) * $HourUs AS window_start_us,
        count(*) AS n_conversions
      FROM m, wm GROUP BY 1, pwm_us
      HAVING window_start_us + $HourUs <= pwm_us
      ORDER BY window_start_us"""))

  /** [[streamJoinWindow]] with the window fold running through a
    * `CREATE AGGREGATE FUNCTION` dynamic UDF — the r14 verdict's last
    * untested composition (propagated watermark × custom fold): the
    * join's output watermark (`wm - 7 days`) must close the downstream
    * hour windows and finalize the dynamic Aggregator's merge at the
    * same instant it would a built-in. The folded measure is the
    * conversion delay `purchase_us - signup_us`, summed per signup-hour
    * by the same `graft_cents_sum` fold the four output-mode entries
    * prove — so a hash match here pins the full chain: DDL compile →
    * bytecode ship → symmetric hash join state → propagated-watermark
    * window close → custom merge/finish. Oracle: the batch interval
    * join, same `window_end <= (floor(max ms) - 1 h) - 7 d` emission
    * predicate as [[streamJoinWindow]]; DuckDB's BIGINT SUM returns
    * HUGEINT, hence the CAST.
    */
  val streamJoinDynAgg: Q = Q(
    "aq_stream_join_agg",
    (s, d) => {
      import s.implicits._
      graft.adhesive.AdhesiveDdl.execute(s, CentsSumDdl)
      drainEvents(s, d, "graft_stream_join_dynagg_sink", copies = 1,
        outputMode = "append",
        pipeline = graft.streaming.EventStreamPipeline.joinThenDynAgg(_),
        shape = _.select(unix_micros($"window_start").as("window_start_us"),
            $"n_conversions", $"delay_us_sum")
          .orderBy($"window_start_us"))
    },
    Some(s"""WITH wm AS (
        SELECT (epoch_ms(max(ts)) - 3600000) * 1000 - 604800000000 AS pwm_us
        FROM events),
      m AS (SELECT epoch_us(s.ts) AS signup_us,
          epoch_us(p.ts) - epoch_us(s.ts) AS delay_us
        FROM events s JOIN events p ON s.user_id = p.user_id
          AND s.event_type = 'signup' AND p.event_type = 'purchase'
          AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY)
      SELECT (signup_us // $HourUs) * $HourUs AS window_start_us,
        count(*) AS n_conversions,
        CAST(SUM(delay_us) AS BIGINT) AS delay_us_sum
      FROM m, wm GROUP BY 1, pwm_us
      HAVING window_start_us + $HourUs <= pwm_us
      ORDER BY window_start_us"""))

  /** CHAINED stateful operators in one streaming query under the
    * driver's oracle ([[graft.streaming.EventStreamPipeline
    * .dedupThenHourlyAgg]]): the events file delivered TWICE (the
    * at-least-once ingest), collapsed by `dropDuplicatesWithinWatermark`,
    * and aggregated into hourly append-mode windows by a SECOND stateful
    * operator in the same micro-batch pipeline — no intermediate sink,
    * Spark's multi-stateful-operator watermark propagation carrying the
    * horizon through both. Oracle: the closed-window hourly aggregate
    * over the DISTINCT events — which is the events table itself, since
    * redelivery duplicates are exact copies — with the same
    * `window_end <= floor(max ms) - 1 h` emission predicate as
    * `aq_stream_agg_window`.
    */
  val streamDedupWindow: Q = Q(
    "ev_stream_dedup_window",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_dedup_win_sink", copies = 2,
        outputMode = "append",
        pipeline = graft.streaming.EventStreamPipeline.dedupThenHourlyAgg,
        shape = _.select(unix_micros($"window_start").as("window_start_us"),
            $"event_type", $"n", $"cents_sum")
          .orderBy($"window_start_us", $"event_type"))
    },
    Some(s"""WITH wm AS (
        SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM events)
      SELECT (epoch_us(ts) // $HourUs) * $HourUs AS window_start_us,
        event_type, count(*) AS n,
        CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
          AS cents_sum
      FROM events, wm GROUP BY 1, 2, wm_us
      HAVING window_start_us + $HourUs <= wm_us
      ORDER BY window_start_us, event_type"""))

  /** Custom per-user session state under the driver's oracle: the
    * `flatMapGroupsWithState` sessionizer emits a session the moment an
    * event closes it (gap > 30 min), and each user's FINAL session never
    * closes — it rides in state when the drain ends. That closed-session
    * semantics is exactly expressible in SQL: the batch sessionization
    * minus each user's last session (max start). So the stream's custom
    * state machine is hash-checked against a declarative oracle every
    * round — the strongest external check a stateful operator gets.
    */
  val streamSessionize: Q = Q(
    "ev_stream_sessionize",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_sess_sink", copies = 1,
        outputMode = "append",
        pipeline = ev => graft.streaming.EventStreamPipeline
          .sessionize(ev).toDF(),
        shape = _.select($"user_id", $"session_start_ms", $"n_events")
          .orderBy($"user_id", $"session_start_ms"))
    },
    Some("""WITH e AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
      f AS (
        SELECT user_id, event_id, ts_ms,
          CASE WHEN lag(ts_ms, 1) OVER w IS NULL
                 OR ts_ms - lag(ts_ms, 1) OVER w > 1800000 THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      g AS (
        SELECT user_id, ts_ms,
          CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM f),
      sess AS (
        SELECT user_id, session_id, min(ts_ms) AS session_start_ms,
          count(*) AS n_events
        FROM g GROUP BY user_id, session_id)
      SELECT user_id, session_start_ms, n_events
      FROM (SELECT *, max(session_start_ms)
              OVER (PARTITION BY user_id) AS last_start FROM sess)
      WHERE session_start_ms < last_start
      ORDER BY user_id, session_start_ms"""))

  /** Timer-closed custom session state under the driver's oracle: the
    * `transformWithState` sessionizer with EVENT-TIME TIMERS
    * ([[graft.streaming.EventStreamPipeline.sessionizeTimers]]) emits
    * gap-split sessions as they close AND fires each idle session's
    * timer once the watermark passes `last activity + gap`, clearing its
    * state row. Strictly stronger than `ev_stream_sessionize` (whose
    * final-session-per-user rides in state forever): here the drained
    * output is every session the watermark can prove closed — in SQL,
    * the batch sessions with `session_last_ms + gap <= floor(max
    * event-time in ms)` (0-second watermark delay), which is exactly
    * what the oracle states. The drain runs on the RocksDB state store
    * provider, which the timer/typed-state APIs require.
    */
  val streamSessionsTimers: Q = Q(
    "ev_stream_sessions_timers",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_sesst_sink", copies = 1,
        outputMode = "append",
        pipeline = ev => graft.streaming.EventStreamPipeline
          .sessionizeTimers(ev).toDF(),
        shape = _.select($"user_id", $"session_start_ms", $"n_events")
          .orderBy($"user_id", $"session_start_ms"),
        rocksDbState = true)
    },
    Some("""WITH e AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
      f AS (
        SELECT user_id, event_id, ts_ms,
          CASE WHEN lag(ts_ms, 1) OVER w IS NULL
                 OR ts_ms - lag(ts_ms, 1) OVER w > 1800000 THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      g AS (
        SELECT user_id, ts_ms,
          CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM f),
      sess AS (
        SELECT user_id, session_id, min(ts_ms) AS session_start_ms,
          max(ts_ms) AS session_last_ms, count(*) AS n_events
        FROM g GROUP BY user_id, session_id),
      wm AS (SELECT max(epoch_ms(ts)) AS m FROM events)
      SELECT user_id, session_start_ms, n_events
      FROM sess, wm WHERE session_last_ms + 1800000 <= m
      ORDER BY user_id, session_start_ms"""))

  /** Running per-user COUNT-DISTINCT through a MapState handle, under
    * the driver's oracle — a capability check in both directions: Spark's
    * window operator REJECTS `count(DISTINCT …) OVER (ROWS UNBOUNDED
    * PRECEDING)`, so the engine side must run the custom state machine
    * ([[graft.streaming.EventStreamPipeline.RunningDistinctProcessor]],
    * per-user (event_type → count) MapState, O(1) per row), while DuckDB
    * CAN express it declaratively — making the custom operator
    * hash-checkable against a window formulation the host engine itself
    * cannot plan. One output row per event; state per user is the type
    * histogram (vocabulary-bounded, not stream-length-bounded).
    */
  val streamRunningDistinct: Q = Q(
    "ev_stream_running_distinct",
    (s, d) => {
      import s.implicits._
      drainEvents(s, d, "graft_stream_rdist_sink", copies = 1,
        outputMode = "append",
        pipeline = ev => graft.streaming.EventStreamPipeline
          .runningDistinct(ev).toDF(),
        shape = _.select($"user_id", $"event_id", $"n_events",
            $"n_distinct_types")
          .orderBy($"user_id", $"event_id"),
        // the (ts, event_id)-ordered oracle holds only when the whole
        // corpus folds in ONE batch (cross-batch state is
        // arrival-ordered) — enforced, not assumed
        maxDataBatches = 1,
        rocksDbState = true)
    },
    Some("""SELECT user_id, event_id,
        CAST(count(*) OVER w AS BIGINT) AS n_events,
        CAST(count(DISTINCT event_type) OVER w AS BIGINT) AS n_distinct_types
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id"""))

  val all: Seq[Q] = Seq(hourly, sessionize, funnel, asof, rollingRate,
    retention, eventPaths, attribution, anomaly, sessionWindow, funnel3,
    churn, dauWau, streamHourly, streamDedup, streamJoin, streamJoinSalted,
    streamJoinOuter, streamJoinOuterSalted,
    streamJoinFull, streamJoinWindow, streamJoinDynAgg, streamDedupWindow,
    streamSessionize,
    streamDynamicAgg, streamDynamicAggWindow, streamDynamicAggUpdate,
    streamDynamicAggSession, streamSessionsTimers, streamRunningDistinct)
}
