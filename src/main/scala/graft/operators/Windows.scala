package graft.operators

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-window and ranking operators over the events stream table. The
  * streaming twins (readStream + watermark / mapGroupsWithState) live in
  * graft.streaming; these are the batch semantics the oracle can check.
  */
object Windows {

  /** Tumbling 1-hour window aggregation (batch twin of
    * streaming.EventAggregator). */
  def eventsWindow(s: SparkSession, d: String): DataFrame =
    eventsWindowOf(s, d)

  /** The parameterized form behind the registered pair and
    * GET /window — calendar grain + optional market zone ([[tzTrunc]];
    * identity at `tz = None`, so the default plan is byte-for-byte the
    * pinned-UTC hourly report). */
  def eventsWindowOf(s: SparkSession, d: String, period: String = "hour",
                     tz: Option[String] = None): DataFrame = {
    require(Set("hour", "day", "week", "month")(period),
      s"eventsWindowOf: period must be hour|day|week|month, got '$period'")
    events(s, d)
      .groupBy(
        tstr(tzTrunc(period, col("ts"), tz)).as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("users"),
        dsum(col("value")).as("sum_value"))
  }

  def eventsWindowOracle: String = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS users,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2"""

  /** `events_window_tz`: the tumbling report on a non-UTC market's
    * calendar — [[tzTrunc]] reused verbatim (the r19 retention fix,
    * closing the calendar family: a daily series for a Tokyo market
    * was shifting exactly the way retention did before `tz` landed).
    * Registered at the DAY grain where the shift BINDS — Tokyo is
    * UTC+9, a whole-hour offset, so hourly buckets would only relabel;
    * daily buckets REGROUP (every UTC day splits across two local
    * days — 155 rows vs UTC's 150 at sf0.01, and EngineSpec pins a
    * bucket that splits across midnight UTC). Same one-projection
    * cost: the zone shift is part of the grouping expression, nothing
    * else in the plan moves. */
  def eventsWindowTz(s: SparkSession, d: String): DataFrame =
    eventsWindowOf(s, d, "day", Some(RetentionTz))

  /** The AT TIME ZONE oracle — DuckDB's spelling of
    * `from_utc_timestamp` before the truncation, the
    * [[eventsRetentionTzOracle]] idiom on the tumbling report. */
  def eventsWindowTzOracle: String = """
    SELECT strftime(date_trunc('day',
             (ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tokyo'),
             '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS users,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2"""

  /** Gap-based sessionization: a new session starts after >30 min of user
    * inactivity. session index = running count of gap-starts — one shuffle
    * on user_id, sort within partition, all window functions share the
    * partitioning. Batch twin of streaming.Sessionizer. */
  def eventsSessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // the casts make the gap math type-agnostic: unix_micros rejects
      // TIMESTAMP_NTZ (what naive parquet timestamps infer as), and the
      // NTZ→LTZ cast is value-preserving under the UTC session timezone
      // (identity on LTZ input) — the PointStore.keyAsLong idiom
      .withColumn("gap_start",
        when(col("prev_ts").isNull ||
             unix_micros(col("ts").cast("timestamp")) -
               unix_micros(col("prev_ts").cast("timestamp")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("gap_start")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        tstr(min(col("ts"))).as("session_start"),
        tstr(max(col("ts"))).as("session_end"),
        dsum(col("value")).as("sum_value"))
  }

  def eventsSessionizeOracle: String = """
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS gap_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts, value,
             CAST(sum(gap_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM g)
    SELECT user_id, session_id,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY 1, 2"""

  /** Top-N per group: 3 highest-value orders per customer, deterministic
    * tie-break on o_orderkey. Ranking runs partially per partition after
    * one shuffle on the group key. */
  def windowTopN(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(
        col("o_custkey"), col("rn").cast("long").as("rn"), col("o_orderkey"),
        dec(col("o_totalprice")).cast("double").as("total"))
  }

  def windowTopNOracle: String = """
    SELECT o_custkey, rn, o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3"""

  /** The registered funnel: the product-analytics signup path. */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** Parse a compact duration (`"90s"`, `"30m"`, `"12h"`, `"1d"`,
    * `"500ms"`) to milliseconds — the funnel-horizon format shared by
    * the fluent API and GET /funnel&window= (URL-safe, no spaces,
    * unit required so a bare number can't silently mean the wrong
    * scale). Loud on anything else. */
  def parseHorizon(s: String): Long = s match {
    case HorizonRe(n, unit) =>
      // 15 digits × the day multiplier overflows Long — surface the
      // same 400-shaped IllegalArgumentException, never a wrapped
      // negative (which funnelOf's require would turn into a 500) or,
      // worse, a double-wrapped wrong positive horizon.
      try Math.multiplyExact(n.toLong, unit match {
        case "ms" => 1L
        case "s" => 1000L
        case "m" => 60000L
        case "h" => 3600000L
        case "d" => 86400000L
      })
      catch { case _: ArithmeticException =>
        throw new IllegalArgumentException(
          s"horizon '$s' overflows the millisecond scale")
      }
    case _ => throw new IllegalArgumentException(
      s"horizon '$s' must be <n><ms|s|m|h|d>, e.g. 30m")
  }
  private val HorizonRe = "([0-9]{1,15})(ms|s|m|h|d)".r

  /** Calendar truncation at a zone: the stored UTC instants shifted to
    * `tz`'s wall clock before `date_trunc` (`from_utc_timestamp`, the
    * AT TIME ZONE twin; identity when `tz` is empty — the pinned-UTC
    * session default). The zone id is validated EAGERLY so an unknown
    * zone 400s at the routes instead of surfacing as a mid-job
    * executor error; the NTZ-safe cast is the sessionizer's idiom. */
  def tzTrunc(period: String, ts: Column, tz: Option[String]): Column =
    tz match {
      case None => date_trunc(period, ts)
      case Some(z) =>
        try java.time.ZoneId.of(z) catch { case _: Exception =>
          throw new IllegalArgumentException(s"unknown timezone '$z'")
        }
        date_trunc(period, from_utc_timestamp(ts.cast("timestamp"), z))
    }

  /** Ordered funnel over an events frame (the windowFunnel shape every
    * product-analytics engine carries): a user reaches step k when
    * their FIRST step-k event STRICTLY AFTER their step-(k-1) reach
    * time exists — order matters, a purchase before the first view
    * does not convert. Returns one user-grain row per reached step
    * with the reach time.
    *
    * `horizonMs` bounds each hop: step k's event must ALSO land within
    * the horizon of the step-(k-1) reach (`ts <= t_prev + horizon`,
    * INCLUSIVE — an event at exactly the boundary converts, matching
    * the SQL form `e.ts <= prev.t + INTERVAL`). These are
    * CHAINED-MIN-WITHIN-HORIZON semantics: the funnel still folds
    * first-occurrence greedily, so a user whose FIRST in-order step-k
    * event misses the horizon does NOT convert even if a later
    * (view, click) pair of theirs would fit — deliberately NOT
    * ClickHouse windowFunnel's deepest-chain-within-window search,
    * which must consider every step-1 event as a candidate anchor.
    * Greedy first-occurrence keeps the operator a filter→join→agg
    * chain (per-stage partial mins, no per-user event lists), stays a
    * pure conjunct extension of the staged-min SQL the oracle checks,
    * and gives the streaming twin bounded state with an eviction
    * point; the deepest-chain variant is a different operator with a
    * per-user search, not a parameter of this one.
    *
    * Scale shape: step k is "min ts after a per-user bound" — a
    * filter-join-agg CHAIN, not a per-user event collection. Every
    * stage shuffles on `user_id` alone, so the join and the
    * re-aggregation after it reuse one hash partitioning end to end,
    * and no operator ever holds a user's whole event list (the
    * collect_list fold the small-data version of this operator uses
    * would make the hottest user the tallest task at 100 TB — a
    * thousand-executor funnel wants per-stage partial mins, which skew
    * only as much as the raw key histogram). The event_type filter is
    * pushed to the scan per stage, so each pass reads only its step's
    * row groups.
    *
    * `by` SEGMENTS the funnel — the reference's defining
    * dimension-expansion move (crunch_global.sql:38-50, the same
    * measures expanded across dimensions with "all" members) applied
    * to the funnel family. The segment is sampled at funnel ENTRY (the
    * value the column carries on the user's first step-1 event; the
    * per-user min is over (ts, segment) PAIRS, so duplicate-timestamp
    * entries break ties on the segment value and the sample is
    * deterministic) and rides the chain as an aggregate PAYLOAD —
    * every stage still groups and joins on `user_id` alone, so
    * segmentation adds no shuffle key and costs the chain nothing.
    * Each returned stage then carries `_seg` beside the reach time;
    * the report's "all" member is one rollup over the user-grain
    * stage output (matrix-scale partials, the Dimensions.scala #3
    * two-phase trick). The payload is OPAQUE to the chain — a
    * `struct(...)` of k attributes segments by all of them at once
    * (the entry sample is then min over (ts, (a1..ak)) tuples, still
    * deterministic under ties), which is how the multi-dimension
    * reports compose without new chain logic.
    *
    * `exclude` VOIDS a hop on an intervening event — the other
    * standard windowFunnel refinement ("converted WITHOUT an error
    * between view and purchase"): `exclude(k)` names an event type
    * that must NOT occur strictly between the step-(k-1) reach and
    * the step-k reach (open interval on both ends — an excluded event
    * at exactly either instant does not void), for k in 2..steps.
    * Greedy first-occurrence still governs: the candidate reach is
    * the user's FIRST in-order step-k event, and if an excluded event
    * precedes it the user does not reach step k even when a later
    * clean pair of theirs exists. Implementation: the hop's one join
    * carries BOTH event types and the aggregate takes one more
    * conditional min ("earliest excluded event after the bound") —
    * the chain stays one equi-join + one agg per stage, user_id the
    * only shuffle key, so exclusions cost the plan nothing.
    *
    * `stepWhere(k)` is a PER-STEP property predicate (the standard
    * product-analytics funnel-builder move — "purchase over $50 after
    * any view"): a Column over the raw event row that an event must
    * ALSO satisfy to count as step k, for k in 1..steps. It narrows
    * the step's CANDIDATE SET before the chain law runs — the
    * first-occurrence min, the horizon, the entry sample (a filtered
    * step 1 samples the segment of the first QUALIFYING entry) and the
    * exclusion law all compose unchanged on the narrowed set; excluded
    * types are never predicate-filtered (the predicate describes the
    * step, not the interference). Plan shape: the conjunct lands in
    * the stage's scan filter (pushed beside the event_type equality),
    * so a predicate costs the chain nothing. */
  def funnelOf(ev: DataFrame, steps: Seq[String],
               horizonMs: Option[Long] = None,
               by: Option[Column] = None,
               exclude: Map[Int, String] = Map.empty,
               stepWhere: Map[Int, Column] = Map.empty): Seq[DataFrame] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"funnelOf: steps must be non-empty and distinct, got $steps")
    require(horizonMs.forall(_ > 0),
      s"funnelOf: horizon must be positive, got $horizonMs")
    require(exclude.keys.forall(k => k >= 2 && k <= steps.size),
      s"funnelOf: exclude keys index the step entered (2..${steps.size})" +
        s", got ${exclude.keys.toSeq.sorted}")
    require(exclude.values.forall(v => !steps.contains(v)),
      s"funnelOf: an excluded type cannot also be a step, got $exclude")
    require(stepWhere.keys.forall(k => k >= 1 && k <= steps.size),
      s"funnelOf: stepWhere keys index a step (1..${steps.size}), " +
        s"got ${stepWhere.keys.toSeq.sorted}")
    // the step-k candidate filter: the type equality plus the step's
    // optional property conjunct, applied on the RAW event row (the
    // predicate may reference any event column) before the slim select
    def isStep(step: String, k: Int): Column = {
      val typed = col("event_type") === step
      stepWhere.get(k).map(typed && _).getOrElse(typed)
    }
    def slimOf(f: Column): DataFrame =
      ev.filter(f).select(col("user_id"), col("ts"), col("event_type"))
    val first = by match {
      case None =>
        slimOf(isStep(steps.head, 1))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      case Some(seg) =>
        ev.filter(isStep(steps.head, 1))
          .select(col("user_id"), col("ts"), col("event_type"),
            seg.as("_seg"))
          .groupBy(col("user_id"))
          .agg(min(struct(col("ts"), col("_seg"))).as("_e"))
          .select(col("user_id"), col("_e.ts").as("t"),
            col("_e._seg").as("_seg"))
    }
    steps.tail.zipWithIndex.scanLeft(first) { case (prev, (step, i)) =>
      val inOrder = col("ts") > col("t")
      // exact day-time interval: millis as a scale-3 decimal of seconds
      // (a double literal would round large horizons at the µs grain)
      val within = horizonMs.map(h => col("ts") <= col("t") +
        make_dt_interval(lit(0), lit(0), lit(0),
          lit(java.math.BigDecimal.valueOf(h, 3))))
      // min re-carries the entry payload (one value per user in `prev`
      // by construction, so min is that value — and deterministic)
      val segAgg = if (by.isEmpty) Nil else Seq(min(col("_seg")).as("_seg"))
      exclude.get(i + 2) match {
        case None =>
          val joined = slimOf(isStep(step, i + 2))
            .join(prev.hint("shuffle_hash"), "user_id")
            .filter(within.map(inOrder && _).getOrElse(inOrder))
          joined.groupBy(col("user_id"))
            .agg(min(col("ts")).as("t"), segAgg: _*)
        case Some(x) =>
          // one join, both types, the same in-order bound; the horizon
          // gates STEP candidates only (a beyond-horizon reach does
          // not exist to void), the excluded min is unbounded above —
          // it voids by PRECEDING the candidate, `xt < t2`
          val joined = slimOf(isStep(step, i + 2) ||
              col("event_type") === x)
            .join(prev.hint("shuffle_hash"), "user_id")
            .filter(inOrder)
          val stepTs = when(col("event_type") === step &&
            within.getOrElse(lit(true)), col("ts"))
          val exTs = when(col("event_type") === x, col("ts"))
          joined.groupBy(col("user_id"))
            .agg(min(stepTs).as("t2"), min(exTs).as("_xt") +: segAgg: _*)
            .filter(col("t2").isNotNull &&
              (col("_xt").isNull || col("_xt") >= col("t2")))
            .select(col("user_id") +: col("t2").as("t") +:
              (if (by.isEmpty) Nil else Seq(col("_seg"))): _*)
      }
    }
  }

  /** `events_funnel`: per-step conversion counts for the registered
    * view → click → purchase path — the funnel report itself (step
    * index, step name, users reaching it; counts are non-increasing by
    * construction). */
  def eventsFunnel(s: SparkSession, d: String): DataFrame = {
    val stages = funnelOf(events(s, d), FunnelSteps)
    stages.zip(FunnelSteps).zipWithIndex.map { case ((df, name), i) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).cast("int").as("step"),
          lit(name).as("step_name"), col("users"))
    }.reduce(_ unionByName _)
  }

  /** The staged-min SQL is the same semantics: min-after-bound per
    * stage ≡ the first qualifying event in time order. */
  def eventsFunnelOracle: String = """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
           count(*) AS users FROM s1
    UNION ALL SELECT 2, 'click', count(*) FROM s2
    UNION ALL SELECT 3, 'purchase', count(*) FROM s3"""

  /** `events_funnel_excluded`: the signup path where an `error` event
    * VOIDS the hop in flight ([[funnelOf]]'s `exclude` — "converted
    * WITHOUT an error between steps", the abandon/error refinement
    * every windowFunnel carries as its mode flags). Registered with
    * the exclusion on both hops; at sf0.01 it cuts the unbounded
    * 150/150/150 to 150/94/46, so the oracle exercises the voiding
    * hard. */
  def eventsFunnelExcluded(s: SparkSession, d: String): DataFrame = {
    val stages = funnelOf(events(s, d), FunnelSteps,
      exclude = Map(2 -> "error", 3 -> "error"))
    stages.zip(FunnelSteps).zipWithIndex.map { case ((df, name), i) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).cast("int").as("step"),
          lit(name).as("step_name"), col("users"))
    }.reduce(_ unionByName _)
  }

  /** The staged-min SQL with a NOT EXISTS anti-conjunct per excluded
    * hop — `xt < t2` ⟺ an excluded event exists in the open interval
    * (t_prev, t_reach), the law the conditional-min implementation
    * carries. */
  def eventsFunnelExcludedOracle: String = """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
    s2x AS (
      SELECT s2.user_id, s2.t FROM s2 JOIN s1 USING (user_id)
      WHERE NOT EXISTS (
        SELECT 1 FROM events x
        WHERE x.user_id = s2.user_id AND x.event_type = 'error'
          AND x.ts > s1.t AND x.ts < s2.t)),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s2x USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2x.t GROUP BY 1),
    s3x AS (
      SELECT s3.user_id, s3.t FROM s3 JOIN s2x USING (user_id)
      WHERE NOT EXISTS (
        SELECT 1 FROM events x
        WHERE x.user_id = s3.user_id AND x.event_type = 'error'
          AND x.ts > s2x.t AND x.ts < s3.t))
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
           count(*) AS users FROM s1
    UNION ALL SELECT 2, 'click', count(*) FROM s2x
    UNION ALL SELECT 3, 'purchase', count(*) FROM s3x"""

  /** `events_funnel_filtered`: the signup path with PER-STEP property
    * predicates ([[funnelOf]]'s `stepWhere` — the funnel-builder's
    * per-step WHERE): a click only counts over $20 and a purchase only
    * over $50, composed with the registered 1-day per-hop horizon. At
    * sf0.01 it cuts the windowed 150/60/25 to 150/45/9 — both
    * predicates and the horizon bind, so the oracle exercises the
    * composition hard (the narrowed candidate set SHIFTS each reach
    * min, which moves the next hop's deadline — EngineSpec pins a user
    * who converts unfiltered but not filtered). */
  def eventsFunnelFiltered(s: SparkSession, d: String): DataFrame = {
    val stages = funnelOf(events(s, d), FunnelSteps,
      Some(parseHorizon(FunnelHorizon)),
      stepWhere = Map(2 -> (col("value") > 20.0),
        3 -> (col("value") > 50.0)))
    stages.zip(FunnelSteps).zipWithIndex.map { case ((df, name), i) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).cast("int").as("step"),
          lit(name).as("step_name"), col("users"))
    }.reduce(_ unionByName _)
  }

  /** The windowed staged-min SQL with a per-stage property conjunct —
    * the predicate narrows the candidate set BEFORE the min, exactly
    * the implementation's scan-filter placement. */
  def eventsFunnelFilteredOracle: String = """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.value > 20 AND e.ts > s1.t
        AND e.ts <= s1.t + INTERVAL 1 DAY GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.value > 50 AND e.ts > s2.t
        AND e.ts <= s2.t + INTERVAL 1 DAY GROUP BY 1)
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
           count(*) AS users FROM s1
    UNION ALL SELECT 2, 'click', count(*) FROM s2
    UNION ALL SELECT 3, 'purchase', count(*) FROM s3"""

  /** The registered SEGMENT dimension: the customer's market segment,
    * keyed by the user id (the driver's star schema keys events.user_id
    * into the customer key space). Broadcast — the dim is
    * customer-count rows of two columns; at 100 TB of events it is
    * still the small side by six orders of magnitude, so the segment
    * attach never shuffles the fact table. */
  def segmentDim(s: SparkSession, d: String): DataFrame =
    broadcast(customer(s, d).select(col("c_custkey").as("user_id"),
      col("c_mktsegment").as("seg")))

  /** The entry payload [[funnelOf]]'s `by` carries for the attached
    * attribute columns `cols`: one struct with a field per attribute,
    * so every arity rides the same min-over-(ts, payload) entry sample
    * (lexicographic over the fields — deterministic under ties). */
  def segPayload(cols: Seq[String]): Column =
    struct(cols.map(c => col(c).as(c)): _*)

  /** The segmented per-step report assembly — ONE shape shared by
    * every segmented funnel flavor (chained, windowed, per-visit,
    * deepest; one axis or several) and by GET /funnel&by=: per stage,
    * GROUPING SETS over the reach frame's [[segPayload]] fields with an
    * "all" member on every axis (2^N sets, the measures recomputed per
    * set so distinct counts stay exact), projected to (the axes' report
    * names, step, step_name, measures). `by` maps each payload
    * attribute to its report name. Expand multiplies reach-grain
    * partials, never raw events. */
  def segmentedFunnelReport(stages: Seq[DataFrame], names: Seq[String],
                            by: Seq[(String, String)], aggs: Seq[Column],
                            outCols: Seq[String]): DataFrame = {
    val axes = by.indices.map(j => s"_a$j")
    stages.zip(names).zipWithIndex.map { case ((df, name), i) =>
      df.select(col("*") +: by.zip(axes).map { case ((in, _), a) =>
          col("_seg").getField(in).as(a) }: _*)
        .groupingSets(segGroupingSets(Nil, axes), axes.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .select(by.zip(axes).map { case ((_, out), a) =>
            coalesce(col(a), lit("all")).as(out) } ++
          Seq(lit(i + 1).cast("int").as("step"),
            lit(name).as("step_name")) ++ outCols.map(col): _*)
    }.reduce(_ unionByName _)
  }

  /** The registered one-axis mapping: attached column → report name. */
  private val By1: Seq[(String, String)] = Seq("seg" -> "segment")

  /** `events_funnel_segmented`: the funnel report broken down BY
    * SEGMENT with an "all" rollup member — the first question an
    * analyst asks after "how many converted" is "converted by what
    * segment", and the reference answers it for the crunch family by
    * expanding every measure across its dimensions with "all" members
    * (crunch_global.sql:38-50); this is that move on the funnel. The
    * segment attaches as a broadcast dim join BEFORE the chain (no new
    * shuffle — the chain still keys on user_id alone, [[funnelOf]]'s
    * `by` payload), and the "all" member is a per-stage `rollup` over
    * the user-grain reach frame — Expand multiplies converted-user
    * rows, never raw events. `all` rows equal the unsegmented
    * `events_funnel` counts by construction. */
  def eventsFunnelSegmented(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).join(segmentDim(s, d), Seq("user_id"))
    val stages = funnelOf(ev, FunnelSteps, by = Some(segPayload(Seq("seg"))))
    segmentedFunnelReport(stages, FunnelSteps, By1,
      Seq(count(lit(1)).as("users")), Seq("users"))
  }

  /** The staged-min SQL with the segment riding each stage (min over
    * the user-constant attribute = the attribute), rolled up via
    * GROUPING SETS — the segmented report and the "all" member from
    * one grouping pass. */
  def eventsFunnelSegmentedOracle: String = """
    WITH ev AS (
      SELECT e.user_id, e.ts, e.event_type, c.c_mktsegment AS seg
      FROM events e JOIN customer c ON e.user_id = c.c_custkey),
    s1 AS (
      SELECT user_id, min(ts) AS t, min(seg) AS seg FROM ev
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s1.seg) AS seg FROM ev e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s2.seg) AS seg FROM ev e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
    u AS (
      SELECT 1 AS step, 'view' AS step_name, seg FROM s1
      UNION ALL SELECT 2, 'click', seg FROM s2
      UNION ALL SELECT 3, 'purchase', seg FROM s3)
    SELECT coalesce(seg, 'all') AS segment, CAST(step AS INT) AS step,
           step_name, count(*) AS users
    FROM u
    GROUP BY GROUPING SETS ((seg, step, step_name), (step, step_name))"""

  /** The TWO-attribute segment dimension: market segment × the
    * customer's nation — the reference's move is eight dimensions
    * expanded SIMULTANEOUSLY with "all" members (crunch_global.sql:
    * 38-50), and real product questions segment by (platform ×
    * country). Customer joins nation dim-side BEFORE the broadcast, so
    * the fact attach is still one broadcast of a customer-count
    * two-attribute frame. */
  def segmentDim2(s: SparkSession, d: String): DataFrame =
    broadcast(customer(s, d)
      .join(nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("seg"), col("n_name").as("region")))

  /** `events_funnel_segmented2`: the funnel expanded across TWO
    * dimensions at once with "all" members on each axis — 2^2 grouping
    * sets (`cube`), the crunch_global_full discipline (Crunch.scala's
    * 2^5 is the registered cap for the pattern) applied to the funnel
    * family. MULTI-ATTRIBUTE segmentation is pure composition on
    * [[funnelOf]]'s payload: `by = struct(seg, region)` entry-samples
    * both attributes in the SAME min-over-(ts, payload) aggregate
    * (lexicographic over the tuple — still deterministic under ties),
    * so the chain is byte-identical to the single-segment one; only
    * the report's rollup widens, over user-grain reach partials. The
    * (all, all) members equal the unsegmented `events_funnel` counts
    * by construction. */
  def eventsFunnelSegmented2(s: SparkSession, d: String): DataFrame = {
    val stages = funnelOf(events2(s, d), FunnelSteps,
      by = Some(segPayload(By2.map(_._1))))
    segmentedFunnelReport(stages, FunnelSteps, By2,
      Seq(count(lit(1)).as("users")), Seq("users"))
  }

  /** The staged SQL with both attributes riding each stage, expanded
    * through all four grouping sets. */
  def eventsFunnelSegmented2Oracle: String = """
    WITH ev AS (
      SELECT e.user_id, e.ts, e.event_type, c.c_mktsegment AS seg,
             n.n_name AS region
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey),
    s1 AS (
      SELECT user_id, min(ts) AS t, min(seg) AS seg,
             min(region) AS region FROM ev
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s1.seg) AS seg,
             min(s1.region) AS region FROM ev e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s2.seg) AS seg,
             min(s2.region) AS region FROM ev e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
    u AS (
      SELECT 1 AS step, 'view' AS step_name, seg, region FROM s1
      UNION ALL SELECT 2, 'click', seg, region FROM s2
      UNION ALL SELECT 3, 'purchase', seg, region FROM s3)
    SELECT coalesce(seg, 'all') AS segment,
           coalesce(region, 'all') AS region,
           CAST(step AS INT) AS step, step_name, count(*) AS users
    FROM u
    GROUP BY GROUPING SETS ((seg, region, step, step_name),
      (seg, step, step_name), (region, step, step_name),
      (step, step_name))"""

  /** `events_funnel_windowed_segmented`: the per-hop-bounded funnel BY
    * SEGMENT — [[funnelOf]]'s `horizonMs` and `by` compose with no new
    * logic (the horizon bounds WHO converts, the segment labels them;
    * the entry sample rides the same chain), so every funnel flavor
    * answers "by what segment". Registered at the 1-day horizon beside
    * `events_funnel_windowed`. */
  def eventsFunnelWindowedSegmented(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).join(segmentDim(s, d), Seq("user_id"))
    val stages = funnelOf(ev, FunnelSteps,
      Some(parseHorizon(FunnelHorizon)), by = Some(segPayload(Seq("seg"))))
    segmentedFunnelReport(stages, FunnelSteps, By1,
      Seq(count(lit(1)).as("users")), Seq("users"))
  }

  def eventsFunnelWindowedSegmentedOracle: String = """
    WITH ev AS (
      SELECT e.user_id, e.ts, e.event_type, c.c_mktsegment AS seg
      FROM events e JOIN customer c ON e.user_id = c.c_custkey),
    s1 AS (
      SELECT user_id, min(ts) AS t, min(seg) AS seg FROM ev
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s1.seg) AS seg FROM ev e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t
        AND e.ts <= s1.t + INTERVAL 1 DAY GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s2.seg) AS seg FROM ev e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t
        AND e.ts <= s2.t + INTERVAL 1 DAY GROUP BY 1),
    u AS (
      SELECT 1 AS step, 'view' AS step_name, seg FROM s1
      UNION ALL SELECT 2, 'click', seg FROM s2
      UNION ALL SELECT 3, 'purchase', seg FROM s3)
    SELECT coalesce(seg, 'all') AS segment, CAST(step AS INT) AS step,
           step_name, count(*) AS users
    FROM u
    GROUP BY GROUPING SETS ((seg, step, step_name), (step, step_name))"""

  /** `events_funnel_sessions_segmented`: the per-visit funnel BY
    * SEGMENT — both measures per segment with "all" members. The
    * entry sample is per (user, session): each VISIT's own entry
    * attribute (for a user-constant attribute, the user's segment).
    * The users measure stays a distinct count inside each grouping
    * set, so the "all" member is exact even if a user's visits ever
    * carried different segments — GROUPING SETS recomputes it, never
    * sums per-segment distincts. */
  def eventsFunnelSessionsSegmented(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).join(segmentDim(s, d), Seq("user_id"))
    val stages = funnelSessionsOf(ev, FunnelSteps,
      by = Some(segPayload(Seq("seg"))))
    segmentedFunnelReport(stages, FunnelSteps, By1,
      Seq(countDistinct(col("user_id.u")).as("users"),
        count(lit(1)).as("visits")), Seq("users", "visits"))
  }

  def eventsFunnelSessionsSegmentedOracle: String = """
    WITH g AS (
      SELECT e.user_id, e.event_id, e.ts, e.event_type,
             c.c_mktsegment AS seg,
             CASE WHEN lag(e.ts) OVER w IS NULL
                    OR epoch_us(e.ts) - epoch_us(lag(e.ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS gap_start
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)),
    sess AS (
      SELECT user_id, ts, event_type, seg,
             CAST(sum(gap_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM g),
    s1 AS (
      SELECT user_id, sid, min(ts) AS t, min(seg) AS seg FROM sess
      WHERE event_type = 'view' GROUP BY 1, 2),
    s2 AS (
      SELECT e.user_id, e.sid, min(e.ts) AS t, min(s1.seg) AS seg FROM sess e
      JOIN s1 USING (user_id, sid)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1, 2),
    s3 AS (
      SELECT e.user_id, e.sid, min(e.ts) AS t, min(s2.seg) AS seg FROM sess e
      JOIN s2 USING (user_id, sid)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1, 2),
    u AS (
      SELECT 1 AS step, 'view' AS step_name, user_id, seg FROM s1
      UNION ALL SELECT 2, 'click', user_id, seg FROM s2
      UNION ALL SELECT 3, 'purchase', user_id, seg FROM s3)
    SELECT coalesce(seg, 'all') AS segment, CAST(step AS INT) AS step,
           step_name, count(DISTINCT user_id) AS users, count(*) AS visits
    FROM u
    GROUP BY GROUPING SETS ((seg, step, step_name), (step, step_name))"""

  /** `events_funnel_sessions_segmented2`: the per-visit funnel across
    * TWO dimensions at once — [[eventsFunnelSegmented2]]'s composition
    * on the sessions flavor (the payload is opaque to the per-visit
    * chain exactly as to the chained one; each visit entry-samples the
    * pair), both measures per grouping set with "all" members on each
    * axis (users a DISTINCT count recomputed inside every set — never
    * a sum of per-cell distincts). */
  def eventsFunnelSessionsSegmented2(s: SparkSession, d: String): DataFrame = {
    val stages = funnelSessionsOf(events2(s, d), FunnelSteps,
      by = Some(segPayload(By2.map(_._1))))
    segmentedFunnelReport(stages, FunnelSteps, By2,
      Seq(countDistinct(col("user_id.u")).as("users"),
        count(lit(1)).as("visits")), Seq("users", "visits"))
  }

  def eventsFunnelSessionsSegmented2Oracle: String = """
    WITH g AS (
      SELECT e.user_id, e.event_id, e.ts, e.event_type,
             c.c_mktsegment AS seg, n.n_name AS region,
             CASE WHEN lag(e.ts) OVER w IS NULL
                    OR epoch_us(e.ts) - epoch_us(lag(e.ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS gap_start
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)),
    sess AS (
      SELECT user_id, ts, event_type, seg, region,
             CAST(sum(gap_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM g),
    s1 AS (
      SELECT user_id, sid, min(ts) AS t, min(seg) AS seg,
             min(region) AS region FROM sess
      WHERE event_type = 'view' GROUP BY 1, 2),
    s2 AS (
      SELECT e.user_id, e.sid, min(e.ts) AS t, min(s1.seg) AS seg,
             min(s1.region) AS region FROM sess e
      JOIN s1 USING (user_id, sid)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1, 2),
    s3 AS (
      SELECT e.user_id, e.sid, min(e.ts) AS t, min(s2.seg) AS seg,
             min(s2.region) AS region FROM sess e
      JOIN s2 USING (user_id, sid)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1, 2),
    u AS (
      SELECT 1 AS step, 'view' AS step_name, user_id, seg, region FROM s1
      UNION ALL SELECT 2, 'click', user_id, seg, region FROM s2
      UNION ALL SELECT 3, 'purchase', user_id, seg, region FROM s3)
    SELECT coalesce(seg, 'all') AS segment,
           coalesce(region, 'all') AS region, CAST(step AS INT) AS step,
           step_name, count(DISTINCT user_id) AS users, count(*) AS visits
    FROM u
    GROUP BY GROUPING SETS ((seg, region, step, step_name),
      (seg, step, step_name), (region, step, step_name),
      (step, step_name))"""

  /** All 2^k subsets of the segment axes (finest first), each extended
    * with the report's fixed grain — the GROUPING SETS a k-attribute
    * "all"-member expansion needs. The crunch_global_full discipline
    * (Crunch.scala's 2^5 is the registered cap for the pattern)
    * governs k; the registered queries use k ≤ 2. */
  private[graft] def segGroupingSets(always: Seq[Column],
                              segs: Seq[String]): Seq[Seq[Column]] =
    (segs.size to 0 by -1).flatMap(n =>
      segs.combinations(n).map(c => always ++ c.map(col)))

  /** `events_retention_segmented`: the cohort matrix BY SEGMENT with
    * "all" members — [[eventsFunnelSegmented]]'s pattern on the
    * retention matrix. The segment is ENTRY-SAMPLED — the attribute
    * the user's COHORT-DEFINING (first) event carries, via the same
    * deterministic min-over-(ts, segment)-pairs law the funnel's entry
    * uses — the uniform rule across the segmented family: the sample
    * point is the entity's defining moment (funnel: the step-1 reach;
    * retention: the cohort event; paths: the pair's from-event), which
    * is also what makes each streaming twin's segment FINAL the moment
    * its anchor finalizes. The segment rides the user-grain
    * aggregation as a payload (user_id stays the only wide shuffle
    * key), and the "all" member comes from GROUPING SETS over
    * FINEST-GRAIN PARTIALS — the matrix×segment partial rows are what
    * Expand multiplies, never the user-period cells (the
    * Dimensions.scala two-phase discipline).
    *
    * `by` names the attached attribute columns and their report names
    * — SEVERAL attributes expand SIMULTANEOUSLY with "all" members on
    * each axis (2^k grouping sets over the same finest-grain partials;
    * the entry sample is min over (ts, a1..ak) tuples, one aggregate
    * regardless of k) — the reference's defining move,
    * crunch_global.sql:38-50's simultaneous dimensions, applied to the
    * cohort matrix exactly as [[eventsFunnelSegmented2]] applies it to
    * the funnel. */
  def retentionSegmentedOf(ev: DataFrame,
                           period: String = "week",
                           tz: Option[String] = None,
                           by: Seq[(String, String)] =
                             Seq("seg" -> "segment")): DataFrame = {
    require(Set("day", "week", "month")(period),
      s"retentionSegmentedOf: period must be day|week|month, got '$period'")
    require(by.nonEmpty && by.map(_._1).distinct.size == by.size &&
        by.map(_._2).distinct.size == by.size,
      s"retentionSegmentedOf: by must map distinct columns to distinct " +
        s"report names, got $by")
    val segs = by.map(_._1)
    val perUser = ev
      .select(Seq(col("user_id"), col("ts"),
        tzTrunc(period, col("ts"), tz).as("p")) ++ segs.map(col): _*)
      .groupBy(col("user_id"))
      .agg(min(col("p")).as("cohort"), collect_set(col("p")).as("ps"),
        min(struct(col("ts") +: segs.map(col): _*)).as("_e"))
      .select(Seq(col("cohort"), col("ps")) ++
        segs.map(n => col("_e").getField(n).as(n)): _*)
    val offset = period match {
      case "month" => months_between(col("p"), col("cohort")).cast("int")
      case "week"  => (datediff(col("p"), col("cohort")) / 7).cast("int")
      case "day"   => datediff(col("p"), col("cohort"))
    }
    val fine = perUser
      .select(col("cohort") +: segs.map(col) :+ explode(col("ps")).as("p"): _*)
      .groupBy(Seq(tstr(col("cohort")).as("cohort"), offset.as("offset")) ++
        segs.map(col): _*)
      .agg(count(lit(1)).as("pu"))
    fine.groupingSets(
        segGroupingSets(Seq(col("cohort"), col("offset")), segs),
        Seq(col("cohort"), col("offset")) ++ segs.map(col): _*)
      .agg(sum(col("pu")).as("users"))
      .select(by.map { case (in, out) =>
          coalesce(col(in), lit("all")).as(out) } ++
        Seq(col("cohort"), col("offset"), col("users")): _*)
  }

  def eventsRetentionSegmented(s: SparkSession, d: String): DataFrame =
    retentionSegmentedOf(events(s, d).join(segmentDim(s, d), Seq("user_id")))

  def eventsRetentionSegmentedOracle: String = """
    WITH acts AS (
      SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS p,
             c.c_mktsegment AS seg
      FROM events e JOIN customer c ON e.user_id = c.c_custkey),
    coh AS (
      SELECT user_id, min(p) AS cohort, min(seg) AS seg
      FROM acts GROUP BY 1),
    cell AS (
      SELECT c.cohort, c.seg,
             CAST(date_diff('day', c.cohort, a.p) / 7 AS INT) AS o
      FROM acts a JOIN coh c USING (user_id))
    SELECT coalesce(seg, 'all') AS segment,
           strftime(cohort, '%Y-%m-%d %H:%M:%S') AS cohort,
           o AS "offset", count(*) AS users
    FROM cell GROUP BY GROUPING SETS ((seg, cohort, o), (cohort, o))"""

  /** The registered two-axis pairing shared by the `*_segmented2`
    * family: market segment × customer nation ([[segmentDim2]] — the
    * dim joins dim-side before ONE broadcast, the fact never shuffles
    * for the attach). */
  private def events2(s: SparkSession, d: String): DataFrame =
    events(s, d).join(segmentDim2(s, d), Seq("user_id"))

  /** The `*_segmented2` axis mapping: attached column → report name. */
  private val By2: Seq[(String, String)] =
    Seq("seg" -> "segment", "region" -> "region")

  /** `events_retention_segmented2`: the cohort matrix expanded across
    * TWO dimensions at once with "all" members on each axis — the
    * reference's simultaneous-dimension move (crunch_global.sql:38-50)
    * on retention, pure composition on [[retentionSegmentedOf]]'s `by`
    * (the entry sample widens to a tuple, the grouping pass widens to
    * 2^2 sets; user_id stays the only wide shuffle key). The
    * (all, all) rows equal the unsegmented weekly matrix by
    * construction. */
  def eventsRetentionSegmented2(s: SparkSession, d: String): DataFrame =
    retentionSegmentedOf(events2(s, d), by = By2)

  def eventsRetentionSegmented2Oracle: String = """
    WITH acts AS (
      SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS p,
             c.c_mktsegment AS seg, n.n_name AS region
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey),
    coh AS (
      SELECT user_id, min(p) AS cohort, min(seg) AS seg,
             min(region) AS region
      FROM acts GROUP BY 1),
    cell AS (
      SELECT c.cohort, c.seg, c.region,
             CAST(date_diff('day', c.cohort, a.p) / 7 AS INT) AS o
      FROM acts a JOIN coh c USING (user_id))
    SELECT coalesce(seg, 'all') AS segment,
           coalesce(region, 'all') AS region,
           strftime(cohort, '%Y-%m-%d %H:%M:%S') AS cohort,
           o AS "offset", count(*) AS users
    FROM cell GROUP BY GROUPING SETS ((seg, region, cohort, o),
      (seg, cohort, o), (region, cohort, o), (cohort, o))"""

  /** `events_paths_segmented`: the transition matrix BY SEGMENT with
    * "all" members — the segment attaches broadcast before the lead
    * window (whose user_id partitioning it rides for free) and the
    * rollup runs over matrix×segment partials. Each pair is attributed
    * to its FROM event's segment (the family's defining-moment rule —
    * the transition "belongs" to where it started), which for a
    * user-constant attribute is also the user's segment. */
  def pathsSegmentedOf(ev: DataFrame,
                       withinGapMs: Option[Long] = None,
                       by: Seq[(String, String)] =
                         Seq("seg" -> "segment")): DataFrame = {
    require(withinGapMs.forall(_ > 0),
      s"pathsSegmentedOf: gap must be positive, got $withinGapMs")
    require(by.nonEmpty && by.map(_._1).distinct.size == by.size &&
        by.map(_._2).distinct.size == by.size,
      s"pathsSegmentedOf: by must map distinct columns to distinct " +
        s"report names, got $by")
    val segs = by.map(_._1)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val slim = ev
      .select(Seq(col("user_id"), col("ts"), col("event_id"),
        col("event_type")) ++ segs.map(col): _*)
      .withColumn("to_step", lead(col("event_type"), 1).over(w))
    val withGap = withinGapMs.fold(slim.withColumn("_gap_ok", lit(true))) {
      g => slim.withColumn("_gap_ok",
        unix_micros(lead(col("ts"), 1).over(w).cast("timestamp")) -
          unix_micros(col("ts").cast("timestamp")) <= g * 1000L)
    }
    val fine = withGap.filter(col("to_step").isNotNull && col("_gap_ok"))
      .groupBy(Seq(col("event_type").as("from_step"), col("to_step")) ++
        segs.map(col): _*)
      .agg(count(lit(1)).as("pn"))
    fine.groupingSets(
        segGroupingSets(Seq(col("from_step"), col("to_step")), segs),
        Seq(col("from_step"), col("to_step")) ++ segs.map(col): _*)
      .agg(sum(col("pn")).as("n"))
      .select(by.map { case (in, out) =>
          coalesce(col(in), lit("all")).as(out) } ++
        Seq(col("from_step"), col("to_step"), col("n")): _*)
  }

  def eventsPathsSegmented(s: SparkSession, d: String): DataFrame =
    pathsSegmentedOf(events(s, d).join(segmentDim(s, d), Seq("user_id")))

  def eventsPathsSegmentedOracle: String = """
    WITH t AS (
      SELECT e.user_id, e.event_type, c.c_mktsegment AS seg,
             lead(e.event_type) OVER (PARTITION BY e.user_id
                                      ORDER BY e.ts, e.event_id) AS to_step
      FROM events e JOIN customer c ON e.user_id = c.c_custkey)
    SELECT coalesce(seg, 'all') AS segment, event_type AS from_step,
           to_step, count(*) AS n
    FROM t WHERE to_step IS NOT NULL
    GROUP BY GROUPING SETS ((seg, event_type, to_step),
                            (event_type, to_step))"""

  /** `events_paths_segmented2`: the transition matrix across TWO
    * dimensions at once with "all" members on each axis — each pair
    * still attributed to its from-event ([[pathsSegmentedOf]]'s law),
    * both attributes riding the one user_id-partitioned lead window,
    * 2^2 grouping sets over matrix×axes partials. */
  def eventsPathsSegmented2(s: SparkSession, d: String): DataFrame =
    pathsSegmentedOf(events2(s, d), by = By2)

  def eventsPathsSegmented2Oracle: String = """
    WITH t AS (
      SELECT e.user_id, e.event_type, c.c_mktsegment AS seg,
             n.n_name AS region,
             lead(e.event_type) OVER (PARTITION BY e.user_id
                                      ORDER BY e.ts, e.event_id) AS to_step
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey)
    SELECT coalesce(seg, 'all') AS segment,
           coalesce(region, 'all') AS region,
           event_type AS from_step, to_step, count(*) AS n
    FROM t WHERE to_step IS NOT NULL
    GROUP BY GROUPING SETS ((seg, region, event_type, to_step),
      (seg, event_type, to_step), (region, event_type, to_step),
      (event_type, to_step))"""

  /** DEEPEST-CHAIN windowed funnel — the OTHER windowFunnel semantics
    * (ClickHouse's): the window is anchored at a step-1 event, and a
    * user's depth is the longest in-order chain e1 < e2 < ... < ek
    * (strict time order, one event per step) that fits entirely within
    * `[t1, t1 + horizon]`, maximized over EVERY step-1 anchor — so a
    * user whose first in-order hop missed its deadline still converts
    * if a LATER (view, click, ...) chain fits a window. This is a
    * different operator from [[funnelOf]]'s chained-min (greedy
    * first-occurrence, per-hop deadline), not a parameter of it:
    * chained-min answers "did the user's actual first journey
    * convert", deepest-chain answers "is the user convertible at all"
    * — both ship, each with its own oracle, and EngineSpec pins a
    * frame where they disagree.
    *
    * Semantics detail: for a FIXED anchor the greedy earliest-next
    * choice is optimal (exchange argument — replacing any chain's
    * step-k event with the earliest valid one preserves validity and
    * can only widen what follows), so stage k is again "min ts after a
    * bound", just at (user, anchor) grain with every stage bounded by
    * the ANCHOR's deadline `t1 + horizon`, boundary inclusive.
    *
    * Scale shape: the naive anchor⋈events join fans out as
    * |step-1 events| × |step-k events| per user — quadratic on a bot
    * user at 100 TB. Bounded here by a TIME-BUCKET equi-join: with
    * buckets of width `horizon`, every chain event lies in the
    * anchor's bucket or the next one, so the anchor side explodes to
    * exactly two (user, bucket) keys and the join pairs an anchor only
    * with events inside a ≤2·horizon window — fan-out bounded by the
    * user's activity RATE × horizon, never their lifetime event count.
    * The range predicate rides the equi-join as a post-join filter
    * (never a nested loop); every stage shuffles on (user, bucket) and
    * re-aggregates to anchor grain.
    *
    * `by` segments the deepest reading too — closing the family's one
    * flavor without the axis. The anchor search is per-anchor, so "the
    * user's segment" needs a sample point: it is the family's uniform
    * DEFINING-MOMENT rule — the attribute carried by the user's FIRST
    * step-1 event (entry sampling, the same deterministic
    * min-over-(ts, segment)-pairs law as [[funnelOf]]'s `by`), NOT the
    * converting anchor's. Entry is the only choice that keeps a
    * streaming twin's segment final at watermark (the converting
    * anchor isn't known until the depth stops growing) and the only
    * one that answers the analyst's actual question ("is THIS kind of
    * user convertible at all" — the user's kind doesn't change with
    * which of their anchors converts). The per-user entry sample
    * attaches to the anchor frame with one user-grain shuffle-hash
    * join (the user_id partitioning the anchors already carry) and
    * then rides the (user, anchor)-grain chain as an aggregate
    * payload — the bucket join's keys are untouched.
    *
    * `exclude` voids a hop PER ANCHOR (the r19 route refusal, now
    * decided and implemented): `exclude(k)` names an event type that
    * must not occur strictly between the anchor's step-(k-1) reach and
    * its step-k reach — the chained law's open-interval rule applied
    * within each anchor's window, so an anchor whose first in-order
    * step-k candidate is preceded by the excluded event is voided at
    * that hop (never rescued by a later clean candidate of the SAME
    * anchor), while the user's OTHER anchors search on. The excluded
    * min rides the SAME bucket join — sound and complete because a
    * voiding event precedes a reach that is itself within the anchor's
    * deadline, so it lies in (t1, t1+horizon) ⊂ the anchor's two
    * buckets; exclusions cost the search no new join. */
  def funnelDeepestOf(ev: DataFrame, steps: Seq[String],
                      horizonMs: Long,
                      by: Option[Column] = None,
                      exclude: Map[Int, String] = Map.empty): Seq[DataFrame] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"funnelDeepestOf: steps must be non-empty and distinct, got $steps")
    require(horizonMs > 0, s"horizon must be positive, got $horizonMs")
    require(exclude.keys.forall(k => k >= 2 && k <= steps.size),
      s"funnelDeepestOf: exclude keys index the step entered " +
        s"(2..${steps.size}), got ${exclude.keys.toSeq.sorted}")
    require(exclude.values.forall(v => !steps.contains(v)),
      s"funnelDeepestOf: an excluded type cannot also be a step, got $exclude")
    val slim = by match {
      case None => ev.select(col("user_id"), col("ts"), col("event_type"))
      case Some(seg) => ev.select(col("user_id"), col("ts"),
        col("event_type"), seg.as("_seg"))
    }
    // µs arithmetic under the UTC session convention (NTZ-safe cast)
    def us(c: Column) = unix_micros(c.cast("timestamp"))
    val hUs = horizonMs * 1000L
    def bucketOf(c: Column) = floor(us(c) / hUs).cast("long")
    val bare = slim.filter(col("event_type") === steps.head)
      .select(col("user_id"), col("ts").as("t1")).distinct()
      .withColumn("t", col("t1"))
    val anchors = by match {
      case None => bare
      case Some(_) =>
        val entry = slim.filter(col("event_type") === steps.head)
          .groupBy(col("user_id"))
          .agg(min(struct(col("ts"), col("_seg")))
            .getField("_seg").as("_seg"))
        bare.join(entry.hint("shuffle_hash"), "user_id")
    }
    val segAgg = if (by.isEmpty) Nil else Seq(min(col("_seg")).as("_seg"))
    val deadline = col("t1") + make_dt_interval(lit(0), lit(0), lit(0),
      lit(java.math.BigDecimal.valueOf(horizonMs, 3)))
    steps.tail.zipWithIndex.scanLeft(anchors) { case (prev, (step, i)) =>
      // anchor exploded to its two reachable buckets; events carry one
      val prevB = prev.withColumn("_bucket",
        explode(array(bucketOf(col("t1")), bucketOf(col("t1")) + 1)))
      exclude.get(i + 2) match {
        case None =>
          slim.filter(col("event_type") === step)
            .select(col("user_id"), col("ts"), col("event_type"))
            .withColumn("_bucket", bucketOf(col("ts")))
            .join(prevB.hint("shuffle_hash"), Seq("user_id", "_bucket"))
            .filter(col("ts") > col("t") && col("ts") <= deadline)
            .groupBy(col("user_id"), col("t1"))
            .agg(min(col("ts")).as("t"), segAgg: _*)
        case Some(x) =>
          // same join, both types: the anchor's in-order window bounds
          // BOTH mins (the deadline is harmless on the excluded side —
          // a voiding event precedes a reach that is within it), and
          // the conditional-min pair + the open-interval comparison is
          // the chained exclusion law at (user, anchor) grain
          val joined = slim
            .filter(col("event_type") === step || col("event_type") === x)
            .select(col("user_id"), col("ts"), col("event_type"))
            .withColumn("_bucket", bucketOf(col("ts")))
            .join(prevB.hint("shuffle_hash"), Seq("user_id", "_bucket"))
            .filter(col("ts") > col("t") && col("ts") <= deadline)
          val stepTs = when(col("event_type") === step, col("ts"))
          val exTs = when(col("event_type") === x, col("ts"))
          joined.groupBy(col("user_id"), col("t1"))
            .agg(min(stepTs).as("t2"), min(exTs).as("_xt") +: segAgg: _*)
            .filter(col("t2").isNotNull &&
              (col("_xt").isNull || col("_xt") >= col("t2")))
            .select(col("user_id") +: col("t1") +: col("t2").as("t") +:
              (if (by.isEmpty) Nil else Seq(col("_seg"))): _*)
      }
    }
  }

  /** Session-bounded funnel — conversion within a SINGLE VISIT: the
    * chained first-occurrence law applied per (user, gap-session), a
    * user converting when ANY of their sessions contains the in-order
    * chain. The third windowFunnel flavor beside the per-hop horizon
    * (#funnelOf) and the anchored window ([[funnelDeepestOf]]):
    * product teams usually mean THIS one when they say "the signup
    * funnel" — a purchase in tomorrow's visit is a new journey, not a
    * conversion of today's view.
    *
    * Pure composition: the session index is the sessionizer's running
    * gap-start sum (one `user_id` window), and the funnel then runs
    * [[funnelOf]] UNCHANGED over a composite `(user, session)` key —
    * a struct column, which groups and joins like any other key, so
    * the session funnel inherits the chained operator's whole plan
    * shape (per-stage partial mins, one hash partitioning, pushed
    * step filters) without a line of new join logic. Returns per-stage
    * frames at (user, session) grain with the reach time. */
  def funnelSessionsOf(ev: DataFrame, steps: Seq[String],
                       gapMs: Long = 1800000L,
                       by: Option[Column] = None,
                       exclude: Map[Int, String] = Map.empty): Seq[DataFrame] = {
    require(gapMs > 0, s"session gap must be positive, got $gapMs")
    val byUser = Window.partitionBy(col("_uid"))
      .orderBy(col("ts"), col("event_id"))
    val sessioned = ev
      .select(col("user_id").as("_uid") +: col("ts") +: col("event_id") +:
        col("event_type") +: by.map(_.as("_byseg")).toSeq: _*)
      .withColumn("_gap_start",
        when(lag(col("ts"), 1).over(byUser).isNull ||
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(lag(col("ts"), 1).over(byUser).cast("timestamp")) >
            gapMs * 1000L, 1L).otherwise(0L))
      .withColumn("_session", sum(col("_gap_start")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(struct(col("_uid").as("u"), col("_session").as("s"))
        .as("user_id") +: col("ts") +: col("event_type") +:
        by.map(_ => col("_byseg")).toSeq: _*)
    // the segment payload composes UNCHANGED over the composite key:
    // the entry sample is then per (user, session) — each visit's own
    // entry attribute, the per-visit reading of the family's
    // defining-moment rule. `exclude` composes the same way: the
    // sessioned frame keeps EVERY event under its visit key, so the
    // hop's excluded-min is per (user, session) and only an excluded
    // event in the SAME VISIT voids — "converted in one visit without
    // an error", the per-visit reading of the void law.
    funnelOf(sessioned, steps, by = by.map(_ => col("_byseg")),
      exclude = exclude)
  }

  /** `events_funnel_sessions`: per-step counts of DISTINCT USERS with
    * a within-session conversion (30-min gap, the registered session
    * grain), plus the visit count — sessions being the funnel unit,
    * `visits >= users` by construction. */
  def eventsFunnelSessions(s: SparkSession, d: String): DataFrame = {
    val stages = funnelSessionsOf(events(s, d), FunnelSteps)
    stages.zip(FunnelSteps).zipWithIndex.map { case ((df, name), i) =>
      df.agg(countDistinct(col("user_id.u")).as("users"),
          count(lit(1)).as("visits"))
        .select(lit(i + 1).cast("int").as("step"),
          lit(name).as("step_name"), col("users"), col("visits"))
    }.reduce(_ unionByName _)
  }

  /** The registered per-visit exclusion gap: 12 hours — long enough
    * visits that an `error` actually intervenes between hops (at the
    * 30-minute grain the testdata's in-visit hops are error-free and
    * the oracle couldn't tell the law from a no-op; at 12 h it voids
    * 95 of 422 step-2 visits at sf0.01). */
  val SessionsExcludedGapMs: Long = 43200000L

  /** `events_funnel_sessions_excluded`: the per-visit funnel where an
    * `error` IN THE SAME VISIT voids the hop — [[funnelSessionsOf]]'s
    * `exclude` composition: the sessioned frame keys every event by
    * its visit, so the void law reads per (user, session) and an error
    * in another visit never voids (EngineSpec pins exactly that
    * contrast). Both measures reported, exclusion on both hops. */
  def eventsFunnelSessionsExcluded(s: SparkSession, d: String): DataFrame = {
    val stages = funnelSessionsOf(events(s, d), FunnelSteps,
      gapMs = SessionsExcludedGapMs,
      exclude = Map(2 -> "error", 3 -> "error"))
    stages.zip(FunnelSteps).zipWithIndex.map { case ((df, name), i) =>
      df.agg(countDistinct(col("user_id.u")).as("users"),
          count(lit(1)).as("visits"))
        .select(lit(i + 1).cast("int").as("step"),
          lit(name).as("step_name"), col("users"), col("visits"))
    }.reduce(_ unionByName _)
  }

  /** The sessionized staged-min SQL with a per-visit NOT EXISTS
    * anti-conjunct per hop. */
  def eventsFunnelSessionsExcludedOracle: String = """
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 43200000000
                  THEN 1 ELSE 0 END AS gap_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts, event_type,
             CAST(sum(gap_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM g),
    s1 AS (
      SELECT user_id, sid, min(ts) AS t FROM sess
      WHERE event_type = 'view' GROUP BY 1, 2),
    s2 AS (
      SELECT e.user_id, e.sid, min(e.ts) AS t FROM sess e
      JOIN s1 USING (user_id, sid)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1, 2),
    s2x AS (
      SELECT s2.user_id, s2.sid, s2.t FROM s2 JOIN s1 USING (user_id, sid)
      WHERE NOT EXISTS (
        SELECT 1 FROM sess x
        WHERE x.user_id = s2.user_id AND x.sid = s2.sid
          AND x.event_type = 'error' AND x.ts > s1.t AND x.ts < s2.t)),
    s3 AS (
      SELECT e.user_id, e.sid, min(e.ts) AS t FROM sess e
      JOIN s2x USING (user_id, sid)
      WHERE e.event_type = 'purchase' AND e.ts > s2x.t GROUP BY 1, 2),
    s3x AS (
      SELECT s3.user_id, s3.sid, s3.t FROM s3 JOIN s2x USING (user_id, sid)
      WHERE NOT EXISTS (
        SELECT 1 FROM sess x
        WHERE x.user_id = s3.user_id AND x.sid = s3.sid
          AND x.event_type = 'error' AND x.ts > s2x.t AND x.ts < s3.t))
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
           count(DISTINCT user_id) AS users, count(*) AS visits FROM s1
    UNION ALL SELECT 2, 'click', count(DISTINCT user_id), count(*) FROM s2x
    UNION ALL SELECT 3, 'purchase', count(DISTINCT user_id), count(*) FROM s3x"""

  /** The sessionize oracle's session index feeding the staged-min
    * funnel SQL at (user, session) grain. */
  def eventsFunnelSessionsOracle: String = """
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS gap_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts, event_type,
             CAST(sum(gap_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM g),
    s1 AS (
      SELECT user_id, sid, min(ts) AS t FROM sess
      WHERE event_type = 'view' GROUP BY 1, 2),
    s2 AS (
      SELECT e.user_id, e.sid, min(e.ts) AS t FROM sess e
      JOIN s1 USING (user_id, sid)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1, 2),
    s3 AS (
      SELECT e.user_id, e.sid, min(e.ts) AS t FROM sess e
      JOIN s2 USING (user_id, sid)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1, 2)
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
           count(DISTINCT user_id) AS users, count(*) AS visits FROM s1
    UNION ALL SELECT 2, 'click', count(DISTINCT user_id), count(*) FROM s2
    UNION ALL SELECT 3, 'purchase', count(DISTINCT user_id), count(*) FROM s3"""

  /** `events_funnel_deepest`: the registered deepest-chain report —
    * per-step DISTINCT-user counts over the same path and horizon as
    * `events_funnel_windowed`, so the two rows quantify exactly what
    * the semantics choice costs. Deepest ≥ chained is a THEOREM only
    * through step 2 (a chained convert's first-view window contains
    * its click); from step 3 the two are incomparable — the anchored
    * window is stricter per chain (every step within `t1 + horizon`,
    * vs per-hop deadlines that let a chain crawl forward) while the
    * anchor search is broader. On the testdata deepest reads
    * 150/147/86 vs chained 150/60/25 at sf0.01. */
  def eventsFunnelDeepest(s: SparkSession, d: String): DataFrame = {
    val stages = funnelDeepestOf(events(s, d), FunnelSteps,
      parseHorizon(FunnelHorizon))
    stages.zip(FunnelSteps).zipWithIndex.map { case ((df, name), i) =>
      df.agg(countDistinct(col("user_id")).as("users"))
        .select(lit(i + 1).cast("int").as("step"),
          lit(name).as("step_name"), col("users"))
    }.reduce(_ unionByName _)
  }

  /** Anchor-grain staged SQL (the bucket join is a plan detail the
    * oracle doesn't need): stage k = min step-k time per (user,
    * anchor) strictly after the previous stage and within the
    * ANCHOR's deadline. */
  def eventsFunnelDeepestOracle: String = """
    WITH s1 AS (
      SELECT DISTINCT user_id, ts AS t1 FROM events
      WHERE event_type = 'view'),
    s2 AS (
      SELECT e.user_id, s1.t1, min(e.ts) AS t FROM events e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 1 DAY GROUP BY 1, 2),
    s3 AS (
      SELECT e.user_id, s2.t1, min(e.ts) AS t FROM events e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t
        AND e.ts <= s2.t1 + INTERVAL 1 DAY GROUP BY 1, 2)
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
           count(DISTINCT user_id) AS users FROM s1
    UNION ALL SELECT 2, 'click', count(DISTINCT user_id) FROM s2
    UNION ALL SELECT 3, 'purchase', count(DISTINCT user_id) FROM s3"""

  /** `events_funnel_deepest_segmented`: the deepest-chain report BY
    * SEGMENT with "all" members — the last funnel flavor onto the
    * family's segment axis ("is this KIND of user convertible at all,
    * by market segment"). Segment = the user's ENTRY sample
    * ([[funnelDeepestOf]]'s `by` scaladoc states the anchor-semantics
    * decision); the stage frames are (user, anchor) grain, so the
    * users measure is a DISTINCT count recomputed inside each grouping
    * set — the "all" member equals the unsegmented
    * `events_funnel_deepest` counts by construction. */
  def eventsFunnelDeepestSegmented(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).join(segmentDim(s, d), Seq("user_id"))
    val stages = funnelDeepestOf(ev, FunnelSteps,
      parseHorizon(FunnelHorizon), by = Some(segPayload(Seq("seg"))))
    segmentedFunnelReport(stages, FunnelSteps, By1,
      Seq(countDistinct(col("user_id")).as("users")), Seq("users"))
  }

  /** The anchor-grain staged SQL with the entry segment riding (the
    * per-user sample joins the anchor set, then min re-carries it —
    * one value per user), rolled up via GROUPING SETS. */
  def eventsFunnelDeepestSegmentedOracle: String = """
    WITH ev AS (
      SELECT e.user_id, e.ts, e.event_type, c.c_mktsegment AS seg
      FROM events e JOIN customer c ON e.user_id = c.c_custkey),
    ent AS (
      SELECT user_id, min(seg) AS seg FROM ev
      WHERE event_type = 'view' GROUP BY 1),
    s1 AS (
      SELECT DISTINCT e.user_id, e.ts AS t1, ent.seg FROM ev e
      JOIN ent USING (user_id) WHERE e.event_type = 'view'),
    s2 AS (
      SELECT e.user_id, s1.t1, min(e.ts) AS t, min(s1.seg) AS seg
      FROM ev e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 1 DAY GROUP BY 1, 2),
    s3 AS (
      SELECT e.user_id, s2.t1, min(e.ts) AS t, min(s2.seg) AS seg
      FROM ev e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t
        AND e.ts <= s2.t1 + INTERVAL 1 DAY GROUP BY 1, 2),
    u AS (
      SELECT 1 AS step, 'view' AS step_name, user_id, seg FROM s1
      UNION ALL SELECT 2, 'click', user_id, seg FROM s2
      UNION ALL SELECT 3, 'purchase', user_id, seg FROM s3)
    SELECT coalesce(seg, 'all') AS segment, CAST(step AS INT) AS step,
           step_name, count(DISTINCT user_id) AS users
    FROM u
    GROUP BY GROUPING SETS ((seg, step, step_name), (step, step_name))"""

  /** `events_funnel_deepest_segmented2`: the deepest-chain report
    * across TWO dimensions — the last funnel flavor onto the two-axis
    * expansion ([[eventsFunnelSegmented2]]'s composition on
    * [[funnelDeepestOf]]'s opaque entry payload: the user's FIRST
    * anchor samples the (segment, region) pair, the 17j semantic
    * decision unchanged), users a DISTINCT count recomputed per
    * grouping set over (user, anchor)-grain reaches. */
  def eventsFunnelDeepestSegmented2(s: SparkSession, d: String): DataFrame = {
    val stages = funnelDeepestOf(events2(s, d), FunnelSteps,
      parseHorizon(FunnelHorizon), by = Some(segPayload(By2.map(_._1))))
    segmentedFunnelReport(stages, FunnelSteps, By2,
      Seq(countDistinct(col("user_id")).as("users")), Seq("users"))
  }

  def eventsFunnelDeepestSegmented2Oracle: String = """
    WITH ev AS (
      SELECT e.user_id, e.ts, e.event_type, c.c_mktsegment AS seg,
             n.n_name AS region
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey),
    ent AS (
      SELECT user_id, min(seg) AS seg, min(region) AS region FROM ev
      WHERE event_type = 'view' GROUP BY 1),
    s1 AS (
      SELECT DISTINCT e.user_id, e.ts AS t1, ent.seg, ent.region
      FROM ev e JOIN ent USING (user_id) WHERE e.event_type = 'view'),
    s2 AS (
      SELECT e.user_id, s1.t1, min(e.ts) AS t, min(s1.seg) AS seg,
             min(s1.region) AS region
      FROM ev e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 1 DAY GROUP BY 1, 2),
    s3 AS (
      SELECT e.user_id, s2.t1, min(e.ts) AS t, min(s2.seg) AS seg,
             min(s2.region) AS region
      FROM ev e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t
        AND e.ts <= s2.t1 + INTERVAL 1 DAY GROUP BY 1, 2),
    u AS (
      SELECT 1 AS step, 'view' AS step_name, user_id, seg, region FROM s1
      UNION ALL SELECT 2, 'click', user_id, seg, region FROM s2
      UNION ALL SELECT 3, 'purchase', user_id, seg, region FROM s3)
    SELECT coalesce(seg, 'all') AS segment,
           coalesce(region, 'all') AS region, CAST(step AS INT) AS step,
           step_name, count(DISTINCT user_id) AS users
    FROM u
    GROUP BY GROUPING SETS ((seg, region, step, step_name),
      (seg, step, step_name), (region, step, step_name),
      (step, step_name))"""

  /** `events_funnel_deepest_excluded`: the deepest-chain report where
    * an `error` event voids a hop PER ANCHOR ([[funnelDeepestOf]]'s
    * `exclude` — r19 carried this as a documented route refusal; r20
    * decides it: the voiding law is the chained one applied within
    * each anchor's window, riding the same bucket join). Registered
    * with the exclusion on both hops at the 1-day horizon; at sf0.01
    * it cuts the unexcluded 150/147/86 to 150/142/68 — the per-anchor
    * voiding binds while other anchors of the same user still rescue
    * the depth, so the oracle exercises exactly the semantics that
    * distinguish this from the chained exclusion. */
  def eventsFunnelDeepestExcluded(s: SparkSession, d: String): DataFrame = {
    val stages = funnelDeepestOf(events(s, d), FunnelSteps,
      parseHorizon(FunnelHorizon),
      exclude = Map(2 -> "error", 3 -> "error"))
    stages.zip(FunnelSteps).zipWithIndex.map { case ((df, name), i) =>
      df.agg(countDistinct(col("user_id")).as("users"))
        .select(lit(i + 1).cast("int").as("step"),
          lit(name).as("step_name"), col("users"))
    }.reduce(_ unionByName _)
  }

  /** Anchor-grain staged SQL with a NOT EXISTS anti-conjunct per hop —
    * the open interval runs from the anchor's previous reach (`t1` for
    * hop 2, the surviving click min for hop 3) to the candidate min,
    * the conditional-min law the bucket-join implementation carries. */
  def eventsFunnelDeepestExcludedOracle: String = """
    WITH s1 AS (
      SELECT DISTINCT user_id, ts AS t1 FROM events
      WHERE event_type = 'view'),
    s2 AS (
      SELECT e.user_id, s1.t1, min(e.ts) AS t FROM events e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 1 DAY GROUP BY 1, 2),
    s2x AS (
      SELECT s2.user_id, s2.t1, s2.t FROM s2
      WHERE NOT EXISTS (
        SELECT 1 FROM events x WHERE x.user_id = s2.user_id
          AND x.event_type = 'error' AND x.ts > s2.t1 AND x.ts < s2.t)),
    s3 AS (
      SELECT e.user_id, s2x.t1, min(e.ts) AS t, min(s2x.t) AS tprev
      FROM events e JOIN s2x USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2x.t
        AND e.ts <= s2x.t1 + INTERVAL 1 DAY GROUP BY 1, 2),
    s3x AS (
      SELECT s3.user_id, s3.t1, s3.t FROM s3
      WHERE NOT EXISTS (
        SELECT 1 FROM events x WHERE x.user_id = s3.user_id
          AND x.event_type = 'error' AND x.ts > s3.tprev AND x.ts < s3.t))
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
           count(DISTINCT user_id) AS users FROM s1
    UNION ALL SELECT 2, 'click', count(DISTINCT user_id) FROM s2x
    UNION ALL SELECT 3, 'purchase', count(DISTINCT user_id) FROM s3x"""

  /** Cohort retention matrix — the product-analytics companion of the
    * funnel: users cohorted by the period of their FIRST event, the
    * cell (cohort, offset) counting how many of them were active
    * `offset` periods later. `period` ∈ day | week | month (calendar
    * truncation on both engines — weeks start Monday).
    *
    * Scale shape: ONE user-grain aggregation (min period = the cohort,
    * collect_set of the user's distinct ACTIVITY PERIODS — bounded by
    * the calendar, ≤ 52 cells for a year of weeks, never by the user's
    * event count: `date_trunc` runs before the aggregate, so map-side
    * partials dedupe a hot user's millions of events down to their
    * period set inside the scan stage), then explode + ONE matrix
    * aggregation. Shuffles on `user_id`, then on the (cohort, offset)
    * matrix key whose cardinality is periods² — nothing user-grain
    * crosses the second exchange.
    *
    * `tz` truncates at a MARKET's calendar instead of the session's
    * pinned UTC — a product team in any non-UTC zone otherwise gets
    * day/week cohort boundaries shifted off their midnight. The stored
    * instants are UTC; [[tzTrunc]] shifts each to the zone's wall
    * clock before truncating (`from_utc_timestamp`, the AT TIME ZONE
    * twin), so cohort labels read as that zone's local period starts.
    * DST convention: the shift is evaluated per instant, so the hour
    * an offset transition repeats or skips lands in the local calendar
    * day the zone's own clocks showed — the same convention AT TIME
    * ZONE implements. A pure projection change: the plan (two
    * aggregations, one explode) is identical, and `tz = None` is
    * byte-for-byte the old operator. */
  def retentionOf(ev: DataFrame, period: String = "week",
                  tz: Option[String] = None): DataFrame = {
    require(Set("day", "week", "month")(period),
      s"retentionOf: period must be day|week|month, got '$period'")
    val perUser = ev
      .select(col("user_id"), tzTrunc(period, col("ts"), tz).as("p"))
      .groupBy(col("user_id"))
      .agg(min(col("p")).as("cohort"), collect_set(col("p")).as("ps"))
    val cell = perUser.select(col("cohort"), explode(col("ps")).as("p"))
    val offset = period match {
      case "month" => months_between(col("p"), col("cohort")).cast("int")
      case "week"  => (datediff(col("p"), col("cohort")) / 7).cast("int")
      case "day"   => datediff(col("p"), col("cohort"))
    }
    cell
      .groupBy(tstr(col("cohort")).as("cohort"), offset.as("offset"))
      .agg(count(lit(1)).as("users")) // (user, p) distinct by collect_set
  }

  /** ROLLING (unbounded) retention — the matrix's other standard
    * reading: cell (cohort, k) counts users active at offset k OR
    * LATER ("came back eventually"), where [[retentionOf]]'s classic
    * cells count activity in exactly period k. Monotone non-increasing
    * along each cohort row by construction — the shape analysts
    * eyeball for churn. Same two-shuffle plan with one change: the
    * user grain reduces to a single MAX offset (even smaller state
    * than the period set), and the calendar-bounded
    * `sequence(0, max)` explode runs between the aggregations. */
  def retentionRollingOf(ev: DataFrame, period: String = "week",
                         tz: Option[String] = None): DataFrame = {
    require(Set("day", "week", "month")(period),
      s"retentionRollingOf: period must be day|week|month, got '$period'")
    val perUser = ev
      .select(col("user_id"), tzTrunc(period, col("ts"), tz).as("p"))
      .groupBy(col("user_id"))
      .agg(min(col("p")).as("cohort"), max(col("p")).as("last"))
    val maxOff = (period match {
      case "month" => months_between(col("last"), col("cohort"))
      case "week"  => datediff(col("last"), col("cohort")) / 7
      case "day"   => datediff(col("last"), col("cohort"))
    }).cast("int")
    perUser
      .select(col("cohort"), explode(sequence(lit(0), maxOff)).as("offset"))
      .groupBy(tstr(col("cohort")).as("cohort"), col("offset"))
      .agg(count(lit(1)).as("users"))
  }

  /** `events_retention`: weekly cohorts over the events table. */
  def eventsRetention(s: SparkSession, d: String): DataFrame =
    retentionOf(events(s, d), "week")

  /** `events_retention_rolling`: the unbounded reading, same cohorts. */
  def eventsRetentionRolling(s: SparkSession, d: String): DataFrame =
    retentionRollingOf(events(s, d), "week")

  /** The registered non-UTC retention market: UTC+9 (no DST), so every
    * UTC day splits across two local days and the oracle exercises the
    * shift hard — at sf0.01 the daily matrix reads 90 cells on the
    * Tokyo calendar vs 59 on UTC. */
  val RetentionTz: String = "Asia/Tokyo"

  /** `events_retention_tz`: daily cohorts on the Tokyo calendar
    * ([[retentionOf]]'s `tz` — cohort boundaries at the market's own
    * midnight, not the session's pinned UTC). */
  def eventsRetentionTz(s: SparkSession, d: String): DataFrame =
    retentionOf(events(s, d), "day", Some(RetentionTz))

  /** The same matrix with both truncations at the zone: naive-UTC
    * instants → TIMESTAMPTZ (AT TIME ZONE 'UTC') → the zone's wall
    * clock (AT TIME ZONE tz), DuckDB's spelling of
    * `from_utc_timestamp`. */
  def eventsRetentionTzOracle: String = """
    WITH acts AS (
      SELECT DISTINCT user_id,
             date_trunc('day',
               (ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tokyo') AS p
      FROM events),
    coh AS (
      SELECT user_id, min(p) AS cohort FROM acts GROUP BY 1)
    SELECT strftime(cohort, '%Y-%m-%d %H:%M:%S') AS cohort,
           CAST(date_diff('day', cohort, p) AS INT) AS "offset",
           count(*) AS users
    FROM acts JOIN coh USING (user_id)
    GROUP BY 1, 2"""

  def eventsRetentionRollingOracle: String = """
    WITH acts AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS p FROM events),
    coh AS (
      SELECT user_id, min(p) AS cohort FROM acts GROUP BY 1),
    mo AS (
      SELECT a.user_id, c.cohort,
             max(CAST(date_diff('day', c.cohort, a.p) / 7 AS INT)) AS max_off
      FROM acts a JOIN coh c USING (user_id) GROUP BY 1, 2),
    e AS (SELECT cohort, unnest(range(0, max_off + 1)) AS o FROM mo)
    SELECT strftime(cohort, '%Y-%m-%d %H:%M:%S') AS cohort,
           CAST(o AS INT) AS "offset", count(*) AS users
    FROM e GROUP BY 1, 2"""

  /** Same matrix in plain SQL: distinct activity periods, per-user min
    * as the cohort, day-diff/7 as the offset (both engines truncate
    * weeks to Monday, so the division is exact). */
  def eventsRetentionOracle: String = """
    WITH acts AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS p FROM events),
    coh AS (
      SELECT user_id, min(p) AS cohort FROM acts GROUP BY 1)
    SELECT strftime(cohort, '%Y-%m-%d %H:%M:%S') AS cohort,
           CAST(date_diff('day', cohort, p) / 7 AS INT) AS "offset",
           count(*) AS users
    FROM acts JOIN coh USING (user_id)
    GROUP BY 1, 2"""

  /** Path-transition matrix — the third classic product-analytics
    * shape beside the funnel and the retention matrix (the sankey /
    * "where do users go next" input): count of ADJACENT event pairs
    * per user in time order. One shuffle on `user_id`, one `lead`
    * window over (ts, event_id) — the same deterministic tie-break
    * the sessionizer uses, so duplicate timestamps order stably —
    * then a types² matrix aggregation; nothing user-grain crosses the
    * second exchange. */
  def pathTransitionsOf(ev: DataFrame,
                        withinGapMs: Option[Long] = None): DataFrame = {
    require(withinGapMs.forall(_ > 0),
      s"pathTransitionsOf: gap must be positive, got $withinGapMs")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val slim = ev.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("to_step", lead(col("event_type"), 1).over(w))
    // withinGapMs bounds adjacency to the SESSION grain: a pair whose
    // gap exceeds it spans two gap-sessions (the sessionizer's law —
    // "next event is a gap start" ⟺ "different session_id", without
    // materializing the running session index at all). Both windows
    // share the one user_id partitioning and (ts, event_id) sort.
    val withGap = withinGapMs.fold(slim.withColumn("_gap_ok", lit(true))) {
      g => slim.withColumn("_gap_ok",
        unix_micros(lead(col("ts"), 1).over(w).cast("timestamp")) -
          unix_micros(col("ts").cast("timestamp")) <= g * 1000L)
    }
    withGap.filter(col("to_step").isNotNull && col("_gap_ok"))
      .groupBy(col("event_type").as("from_step"), col("to_step"))
      .agg(count(lit(1)).as("n"))
  }

  /** `events_paths`: the transition matrix over the events table. */
  def eventsPaths(s: SparkSession, d: String): DataFrame =
    pathTransitionsOf(events(s, d))

  /** `events_paths_sessionized`: adjacency bounded to the registered
    * 30-minute gap-session (the sessionizer's grain) — a pair spanning
    * a session boundary is two visits, not one journey. */
  def eventsPathsSessionized(s: SparkSession, d: String): DataFrame =
    pathTransitionsOf(events(s, d), Some(1800000L))

  def eventsPathsSessionizedOracle: String = """
    WITH t AS (
      SELECT user_id, event_type,
             lead(event_type) OVER w AS to_step,
             epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_type AS from_step, to_step, count(*) AS n
    FROM t WHERE to_step IS NOT NULL AND gap_us <= 1800 * 1000000
    GROUP BY 1, 2"""

  def eventsPathsOracle: String = """
    WITH t AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_step
      FROM events)
    SELECT event_type AS from_step, to_step, count(*) AS n
    FROM t WHERE to_step IS NOT NULL GROUP BY 1, 2"""

  /** `funnel_latency`: time-to-convert distributions per funnel hop —
    * the funnel stages composed with the mergeable
    * [[graft.functions.QuantileSketch]] family: stage k and k+1 reach
    * frames join on `user_id` (the partitioning every stage already
    * carries), the hop latency is exact µs arithmetic, and the
    * per-hop p25/p50/p75/p95 ride sketch buffers across the exchange
    * — an exact percentile would sort per hop. Exact-regime oracle
    * (`quantile_disc` over the staged SQL's latencies), the
    * quantiles_by_lang convention. */
  def funnelLatency(s: SparkSession, d: String): DataFrame = {
    import graft.functions.SketchOps
    val stages = funnelOf(events(s, d), FunnelSteps)
    stages.sliding(2).toSeq.zipWithIndex.map { case (Seq(a, b), i) =>
      val hop = s"${FunnelSteps(i)}->${FunnelSteps(i + 1)}"
      a.select(col("user_id"), col("t").as("t_from"))
        .join(b.select(col("user_id"), col("t").as("t_to")),
          Seq("user_id"))
        .select((unix_micros(col("t_to").cast("timestamp")) -
          unix_micros(col("t_from").cast("timestamp"))).as("lat_us"))
        .agg(count(lit(1)).as("n_users"),
          SketchOps.quantileSketch(col("lat_us"), TextOps.QuantileK).as("sk"))
        .select(lit(hop).as("hop") +: col("n_users") +:
          TextOps.quantileCols(col("sk")): _*)
    }.reduce(_ unionByName _)
  }

  def funnelLatencyOracle: String = """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
    h1 AS (
      SELECT CAST(date_diff('microsecond', s1.t, s2.t) AS BIGINT) AS lat_us
      FROM s1 JOIN s2 USING (user_id)),
    h2 AS (
      SELECT CAST(date_diff('microsecond', s2.t, s3.t) AS BIGINT) AS lat_us
      FROM s2 JOIN s3 USING (user_id))
    SELECT 'view->click' AS hop, count(*) AS n_users,
           quantile_disc(lat_us, 0.25) AS p25, quantile_disc(lat_us, 0.5) AS p50,
           quantile_disc(lat_us, 0.75) AS p75, quantile_disc(lat_us, 0.95) AS p95
    FROM h1
    UNION ALL
    SELECT 'click->purchase', count(*),
           quantile_disc(lat_us, 0.25), quantile_disc(lat_us, 0.5),
           quantile_disc(lat_us, 0.75), quantile_disc(lat_us, 0.95)
    FROM h2"""

  /** `funnel_latency_segmented`: time-to-convert BY SEGMENT with "all"
    * members — the one report family still without the axis after r18:
    * "how long does each KIND of user take to convert". The segment is
    * the chain's entry payload ([[funnelOf]]'s `by` — the family's
    * defining-moment rule), the hop join stays on the `user_id`
    * partitioning every stage carries, and the per-set percentiles
    * come from the rollup RECOMPUTING the quantile sketch per grouping
    * set over the hop-latency rows (Expand multiplies converted-user
    * rows — per-hop converts, never raw events — so the "all" sketch
    * is the sketch over all latencies, not a merge of per-segment
    * ones; in the exact regime both equal quantile_disc). */
  def funnelLatencySegmented(s: SparkSession, d: String): DataFrame =
    funnelLatencySegmentedOf(events(s, d).join(segmentDim(s, d),
      Seq("user_id")))

  /** The parameterized form behind the registered queries and
    * GET /latency&by= — `ev` carries the attached attribute columns
    * named by `by` (column → report name; several attributes ride ONE
    * struct payload through the chain — [[funnelOf]]'s opaque-payload
    * composition — and expand through 2^k grouping sets, the
    * per-set sketches recomputed over the hop-latency rows). */
  def funnelLatencySegmentedOf(ev: DataFrame,
                               steps: Seq[String] = FunnelSteps,
                               by: Seq[(String, String)] =
                                 Seq("seg" -> "segment")): DataFrame = {
    import graft.functions.SketchOps
    require(by.nonEmpty && by.map(_._1).distinct.size == by.size &&
        by.map(_._2).distinct.size == by.size,
      s"funnelLatencySegmentedOf: by must map distinct columns to " +
        s"distinct report names, got $by")
    // the payload's fields are extracted once per hop before the
    // grouping pass
    val segNames = by.map(_._1)
    val stages = funnelOf(ev, steps, by = Some(segPayload(segNames)))
    stages.sliding(2).toSeq.zipWithIndex.map { case (Seq(a, b), i) =>
      val hop = s"${steps(i)}->${steps(i + 1)}"
      a.select(col("user_id"), col("t").as("t_from"), col("_seg"))
        .join(b.select(col("user_id"), col("t").as("t_to")),
          Seq("user_id"))
        .select(segNames.map(n => col("_seg").getField(n).as(n)) :+
          (unix_micros(col("t_to").cast("timestamp")) -
            unix_micros(col("t_from").cast("timestamp"))).as("lat_us"): _*)
        .groupingSets(segGroupingSets(Nil, segNames),
          segNames.map(col): _*)
        .agg(count(lit(1)).as("n_users"),
          SketchOps.quantileSketch(col("lat_us"), TextOps.QuantileK).as("sk"))
        .select(segNames.zip(by.map(_._2)).map { case (n, out) =>
            coalesce(col(n), lit("all")).as(out) } ++
          (lit(hop).as("hop") +: col("n_users") +:
            TextOps.quantileCols(col("sk"))): _*)
    }.reduce(_ unionByName _)
  }

  /** `funnel_latency_segmented2`: time-to-convert across TWO
    * dimensions at once with "all" members on each axis — the entry
    * (segment, region) tuple rides the hop join as one struct payload
    * and the per-set sketches are RECOMPUTED per grouping set over
    * hop-latency rows (2^2 sets; Expand multiplies per-hop converts,
    * never events). The (all, all) rows equal `funnel_latency` by
    * construction. */
  def funnelLatencySegmented2(s: SparkSession, d: String): DataFrame =
    funnelLatencySegmentedOf(events2(s, d), by = By2)

  def funnelLatencySegmented2Oracle: String = """
    WITH ev AS (
      SELECT e.user_id, e.ts, e.event_type, c.c_mktsegment AS seg,
             n.n_name AS region
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey),
    s1 AS (
      SELECT user_id, min(ts) AS t, min(seg) AS seg,
             min(region) AS region FROM ev
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s1.seg) AS seg,
             min(s1.region) AS region FROM ev e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s2.seg) AS seg,
             min(s2.region) AS region FROM ev e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
    h1 AS (
      SELECT s1.seg, s1.region,
             CAST(date_diff('microsecond', s1.t, s2.t) AS BIGINT) AS lat_us
      FROM s1 JOIN s2 USING (user_id)),
    h2 AS (
      SELECT s2.seg, s2.region,
             CAST(date_diff('microsecond', s2.t, s3.t) AS BIGINT) AS lat_us
      FROM s2 JOIN s3 USING (user_id))
    SELECT coalesce(seg, 'all') AS segment,
           coalesce(region, 'all') AS region, 'view->click' AS hop,
           count(*) AS n_users,
           quantile_disc(lat_us, 0.25) AS p25, quantile_disc(lat_us, 0.5) AS p50,
           quantile_disc(lat_us, 0.75) AS p75, quantile_disc(lat_us, 0.95) AS p95
    FROM h1 GROUP BY GROUPING SETS ((seg, region), (seg), (region), ())
    UNION ALL
    SELECT coalesce(seg, 'all'), coalesce(region, 'all'),
           'click->purchase', count(*),
           quantile_disc(lat_us, 0.25), quantile_disc(lat_us, 0.5),
           quantile_disc(lat_us, 0.75), quantile_disc(lat_us, 0.95)
    FROM h2 GROUP BY GROUPING SETS ((seg, region), (seg), (region), ())"""

  def funnelLatencySegmentedOracle: String = """
    WITH ev AS (
      SELECT e.user_id, e.ts, e.event_type, c.c_mktsegment AS seg
      FROM events e JOIN customer c ON e.user_id = c.c_custkey),
    s1 AS (
      SELECT user_id, min(ts) AS t, min(seg) AS seg FROM ev
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s1.seg) AS seg FROM ev e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s2.seg) AS seg FROM ev e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1),
    h1 AS (
      SELECT s1.seg,
             CAST(date_diff('microsecond', s1.t, s2.t) AS BIGINT) AS lat_us
      FROM s1 JOIN s2 USING (user_id)),
    h2 AS (
      SELECT s2.seg,
             CAST(date_diff('microsecond', s2.t, s3.t) AS BIGINT) AS lat_us
      FROM s2 JOIN s3 USING (user_id))
    SELECT coalesce(seg, 'all') AS segment, 'view->click' AS hop,
           count(*) AS n_users,
           quantile_disc(lat_us, 0.25) AS p25, quantile_disc(lat_us, 0.5) AS p50,
           quantile_disc(lat_us, 0.75) AS p75, quantile_disc(lat_us, 0.95) AS p95
    FROM h1 GROUP BY GROUPING SETS ((seg), ())
    UNION ALL
    SELECT coalesce(seg, 'all'), 'click->purchase', count(*),
           quantile_disc(lat_us, 0.25), quantile_disc(lat_us, 0.5),
           quantile_disc(lat_us, 0.75), quantile_disc(lat_us, 0.95)
    FROM h2 GROUP BY GROUPING SETS ((seg), ())"""

  /** The registered windowed funnel's horizon: each hop must land
    * within one day of the previous reach (the testdata's inter-event
    * cadence makes this bind hard — at sf0.01 it cuts 150/150/150 to
    * 150/60/25, so the oracle actually exercises the bound). */
  val FunnelHorizon: String = "1d"

  /** `events_funnel_windowed`: the same signup path with the
    * conversion bounded per hop ([[funnelOf]]'s `horizonMs` —
    * unbounded funnels overcount on long-lived users: ANY click after
    * the first view converts, even months later). */
  def eventsFunnelWindowed(s: SparkSession, d: String): DataFrame = {
    val stages = funnelOf(events(s, d), FunnelSteps,
      Some(parseHorizon(FunnelHorizon)))
    stages.zip(FunnelSteps).zipWithIndex.map { case ((df, name), i) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).cast("int").as("step"),
          lit(name).as("step_name"), col("users"))
    }.reduce(_ unionByName _)
  }

  /** The unbounded oracle's staged SQL, each stage extended with the
    * horizon conjunct — the chained-min-within-horizon law is a pure
    * conjunction, which is exactly why these semantics were chosen
    * over the deepest-chain search. Boundary INCLUSIVE on both
    * engines. */
  def eventsFunnelWindowedOracle: String = """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t
        AND e.ts <= s1.t + INTERVAL 1 DAY GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t
        AND e.ts <= s2.t + INTERVAL 1 DAY GROUP BY 1)
    SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
           count(*) AS users FROM s1
    UNION ALL SELECT 2, 'click', count(*) FROM s2
    UNION ALL SELECT 3, 'purchase', count(*) FROM s3"""
}
