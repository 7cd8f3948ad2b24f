package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QDef
import graft.sources.Tables

/** Temporal join operators — as-of and range joins over the event log.
  *
  * Neither exists in the reference (its only join surface is Kafka topic
  * routing); both are core to training-data pipelines (point-in-time
  * feature joins, windowed correlation). Both are built by COMPOSING
  * existing Spark operators into shapes that scale — no custom strategy
  * needed, and crucially no inequality join that would plan as a
  * BroadcastNestedLoopJoin:
  *
  *  - as-of: union the state stream (purchases) and the query stream
  *    (clicks), one window over (user, time) carries the latest state
  *    forward — a SINGLE shuffle, no join operator at all. This is the
  *    standard log-structured point-in-time join: at 100 TB it shuffles
  *    each row once and never materializes candidate pairs;
  *  - range: map both sides onto fixed-width time bins, the interval side
  *    replicated to each bin it can reach (2 bins for window ≤ bin width),
  *    equi-join on (key, bin), then the exact interval predicate filters.
  *    Each qualifying pair meets in exactly one bin (the probe's own), so
  *    no dedup pass is needed. Replication factor = window/bin + 1 —
  *    the knob that trades shuffle volume against join fan-in.
  */
object TemporalOps {

  private def ev(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))

  /** As-of join: each click paired with the user's latest purchase at or
    * before the click (inner semantics — unmatched clicks drop, like
    * DuckDB's ASOF JOIN). State rows sort before query rows at equal
    * timestamps, giving the inclusive `click.ts >= purchase.ts` bound;
    * among purchases tied on (user, ts) — impossible here, timestamps are
    * distinct microseconds — the highest event_id wins, a deterministic
    * pick where DuckDB's ASOF leaves the choice unspecified. */
  private def joinAsof(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
    asofJoin(clicks, purchases, "user_id", "ts_us",
      payload = Seq("event_id", "value"), tieBreak = "event_id")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts_us").as("click_ts_us"),
        col("asof_event_id").as("purch_id"),
        col("asof_ts").as("purch_ts_us"),
        col("asof_value").as("purch_value"))
      .orderBy("click_id")
  }

  /** Generic as-of join — each `left` row paired with the latest `right`
    * row at or before its timestamp, per key (inner semantics: unmatched
    * left rows drop). Same single-shuffle union+window shape as
    * [[joinAsof]]: no join operator, no candidate pairs, each row
    * shuffled exactly once — the point-in-time feature join at any scale.
    * Ties on (key, ts) among right rows resolve by `tieBreak` descending
    * (a deterministic pick where DuckDB's ASOF leaves it unspecified); a
    * right row whose payload value is NULL is treated as no observation
    * for that column (the window skips nulls).
    *
    * Returns every `left` column plus `asof_ts` (the matched right
    * timestamp) and `asof_<p>` for each payload column.
    *
    * LIBRARY ENTRY POINT — generic over any pair of keyed, timestamped
    * frames (ApiSpec exercises it on a synthetic sensor/calibration pair). */
  /** ts column → epoch-long: timestamps convert to MICROSECONDS (so
    * `span`/ordering operate in µs), integral types pass through; anything
    * else (string, double) would silently truncate or null out — refuse. */
  private def tsLong(df: DataFrame, c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case TimestampType => unix_micros(col(c))
      case LongType | IntegerType | ShortType | ByteType => col(c).cast("long")
      case t => throw new IllegalArgumentException(
        s"ts column '$c' must be integral or timestamp, got $t")
    }
  }

  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      payload: Seq[String], tieBreak: String): DataFrame = {
    // chaining guard: the output adds asof_ts/asof_<p> — a left frame that
    // already carries those (a previous asofJoin's output) or a payload
    // that maps onto asof_ts would produce ambiguous columns downstream
    val outNames = "asof_ts" +: payload.map(p => s"asof_$p")
    require(outNames.distinct.size == outNames.size,
      s"payload names collide on the asof_ prefix: $payload")
    val clash = left.columns.toSeq.intersect(outNames)
    require(clash.isEmpty,
      s"left already contains output columns $clash — rename before chaining")
    val lrowType = org.apache.spark.sql.types.StructType(left.schema.fields)
    // tie-break keeps its own type (any orderable column works — numeric
    // id, string UUID); only the null on the probe side needs the type
    val tbType = right.schema(tieBreak).dataType
    val l = left.select(Seq(col(key).as("_k"), tsLong(left, ts).as("_ts"),
      lit(1).as("_kind"), lit(null).cast(tbType).as("_tb"),
      struct(left.columns.toSeq.map(col): _*).as("_lrow")) ++
      payload.map(p => lit(null).cast(right.schema(p).dataType).as(p)): _*)
    val r = right.select(Seq(col(key).as("_k"), tsLong(right, ts).as("_ts"),
      lit(0).as("_kind"), col(tieBreak).as("_tb"),
      lit(null).cast(lrowType).as("_lrow")) ++ payload.map(col): _*)
    // state rows sort before probe rows at equal ts (inclusive bound);
    // among state ties the highest tieBreak lands last and wins
    val w = Window.partitionBy("_k").orderBy(col("_ts"), col("_kind"), col("_tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = (("_ts", "asof_ts") +: payload.map(p => (p, s"asof_$p")))
      .foldLeft(r.unionByName(l)) { case (df, (src, dst)) =>
        df.withColumn(dst,
          last(when(col("_kind") === 0, col(src)), ignoreNulls = true).over(w))
      }
    carried
      .filter(col("_kind") === 1 && col("asof_ts").isNotNull)
      .select(Seq(col("_lrow.*"), col("asof_ts")) ++
        payload.map(p => col(s"asof_$p")): _*)
  }

  /** Generic range join — (left, right) pairs of the same key with
    * `right.ts` inside `[left.ts, left.ts + span]`. Same bin-replication
    * shape as [[joinRange]]: the interval side replicates to its bin and
    * the next, the probe side hits its own bin only, the equi-join on
    * (key, bin) meets every qualifying pair exactly once, and the exact
    * predicate filters — never an inequality join's nested loop.
    *
    * Returns `l`/`r` struct columns (collision-free) plus `delta` =
    * right.ts - left.ts.
    *
    * LIBRARY ENTRY POINT — generic over any pair of keyed, timestamped
    * frames. */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      span: Long): DataFrame = {
    require(span > 0, s"span must be positive, got $span")
    // `div` is 64-bit integer division: `floor(x / span)` would route the
    // epoch value through a double and mis-bin timestamps beyond 2^53
    // (nanosecond epochs), silently dropping pairs at bin edges. (The
    // truncating div makes the zero-straddling bin 2·span wide, which
    // preserves the pair-meets-once property: bins stay monotone with
    // boundaries ≥ span apart, so rbin - lbin is still 0 or 1.)
    val l = left.select(col(key).as("_k"), tsLong(left, ts).as("_lts"),
      struct(left.columns.toSeq.map(col): _*).as("l"))
      .withColumn("_bin", explode(array(expr(s"_lts div $span"),
        expr(s"_lts div $span") + 1)))
    val r = right.select(col(key).as("_k"), tsLong(right, ts).as("_rts"),
      struct(right.columns.toSeq.map(col): _*).as("r"))
      .withColumn("_bin", expr(s"_rts div $span"))
    l.join(r, Seq("_k", "_bin"))
      .filter(col("_rts") >= col("_lts") && col("_rts") <= col("_lts") + span)
      .select(col("l"), col("r"), (col("_rts") - col("_lts")).as("delta"))
  }

  private val WindowUs = 3600000000L // 1 hour

  /** Range join: (purchase, click) pairs of the same user with the click
    * inside [purchase, purchase + 1h]. Binned to the window width: the
    * purchase is replicated to its bin and the next; the click probes its
    * own bin only — each qualifying pair meets exactly once. */
  private def joinRange(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purch_id"), col("ts_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts_us"))
    rangeJoin(purchases, clicks, "user_id", "ts_us", span = WindowUs)
      .select(col("l.user_id").as("user_id"), col("l.purch_id").as("purch_id"),
        col("r.click_id").as("click_id"), col("delta").as("lag_us"))
      .orderBy("purch_id", "click_id")
  }

  // Ordered conversion funnel (view → click → purchase by FIRST
  // occurrence): one aggregation collapses each user to three first-seen
  // timestamps — the shuffle carries (user, 3 longs), never events — and a
  // second 1-row aggregation counts strict-order survivors. The classic
  // event-analytics query, shaped so no step requires a self-join.
  private def funnel(s: SparkSession, d: String): DataFrame = {
    def firstSeen(t: String) =
      min(when(col("event_type") === t, col("ts_us"))).as(s"t_$t")
    val perUser = ev(s, d).groupBy("user_id")
      .agg(firstSeen("view"), firstSeen("click"), firstSeen("purchase"))
    // null comparisons propagate null → `when` doesn't count them, exactly
    // the users missing a step
    perUser.agg(
      count(when(col("t_view").isNotNull, 1)).as("n_view"),
      count(when(col("t_view") < col("t_click"), 1)).as("n_view_click"),
      count(when(col("t_view") < col("t_click") &&
        col("t_click") < col("t_purchase"), 1)).as("n_full_funnel"))
  }

  /** Time-weighted average of `value` per user: each event's value holds
    * until the user's next event (right-open step function); the last
    * event has no duration and drops out. One window pass for the lead
    * timestamp + one aggregation; weighted sums go through the decimal
    * accumulator so the result is partitioning-independent. The telemetry
    * aggregation for irregularly-sampled signals — a plain mean
    * over-weights chatty periods. */
  private def timeWeighted(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ev(s, d)
      .withColumn("dt", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dt").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        graft.Det.dsum(col("value") * col("dt")).as("wsum"),
        sum(col("dt")).as("dtsum"))
      .filter(col("dtsum") > 0)
      .select(col("user_id"), col("n_intervals"),
        graft.Det.r4(col("wsum") / col("dtsum")).as("twa"))
      .orderBy("user_id")
  }

  /** Cohort retention — users cohorted by first-active week, activity
    * counted per whole-week offset from that first day. THE
    * warehouse-standard engagement query, shaped join-free: the cohort
    * anchor is a `min` window over the user partition, so the whole query
    * is two shuffles — one on `user` (window), one on (cohort, offset)
    * (count-distinct aggregate) — and the shuffled rows are (user, day)
    * pairs, never events. All calendar math is integer epoch-day
    * arithmetic (`day + 3` Monday-aligns the 1970-01-01-Thursday epoch),
    * bit-identical in any engine — no DATE/TZ semantics in the result.
    *
    * Returns (cohort_week, week_offset, active_users): cohort_week is a
    * Monday-aligned epoch-week index, week_offset 0 is the user's first
    * week (so offset 0 counts the cohort's size).
    *
    * LIBRARY ENTRY POINT — generic over any keyed, timestamped activity
    * frame (ApiSpec exercises it on a synthetic activity log). */
  def cohortRetention(rows: DataFrame, user: String, ts: String): DataFrame = {
    // epoch-µs → epoch-day → epoch-week in explicit floor arithmetic:
    // Spark's `/` on longs is double division, so wrap in floor — exact
    // here (all values < 2^53 and nonnegative), and it renders as `//` in
    // the DuckDB oracle
    val day = floor(tsLong(rows, ts) / lit(86400000000L)).cast("long").as("day")
    val w = Window.partitionBy("__u")
    rows.select(col(user).as("__u"), day)
      .withColumn("cohort_day", min(col("day")).over(w))
      .groupBy(floor((col("cohort_day") + 3) / 7).cast("long").as("cohort_week"),
        floor((col("day") - col("cohort_day")) / 7).cast("long").as("week_offset"))
      .agg(count_distinct(col("__u")).as("active_users"))
      .orderBy("cohort_week", "week_offset")
  }

  private def qCohortRetention(s: SparkSession, d: String): DataFrame =
    cohortRetention(Tables(s, d, "events"), "user_id", "ts")

  /** Resample an irregular per-key series onto a regular `stepUs` grid
    * with forward fill — the time-series regularization pass feature
    * pipelines need before windowed models (irregular telemetry → one row
    * per (key, step), last observation carried forward). Per (key,
    * bucket) the LAST observation wins (ties on timestamp broken by
    * `tieBreak` descending); buckets between a key's first and last
    * observation with no rows are emitted with the carried value and
    * `observed = false`. The grid never extends beyond a key's own span,
    * so no trailing extrapolation is invented. A row whose `value` is
    * NULL is treated as NO observation (dropped before the in-bucket
    * pick — same contract as [[asofJoin]]'s payload), so `observed =
    * true` always carries a real measured value.
    *
    * Shape at scale: every stage is keyed by `key` (in-bucket last pick,
    * span bounds, grid join, fill window) — each observation row is
    * shuffled a constant number of times and the only generated rows are
    * the grid itself, span/stepUs per key BY CONSTRUCTION (the caller's
    * step choice bounds the blow-up; there is no observation-count term
    * in the grid size). Forward fill is one `last(ignoreNulls)` running
    * window, never a self-join.
    *
    * Returns (`key`, bucket, `value`, observed): bucket = floor(ts /
    * stepUs) as an epoch bucket index, `value` forward-filled, observed
    * marking real vs carried rows.
    *
    * LIBRARY ENTRY POINT — generic over any keyed, timestamped frame
    * (ApiSpec exercises gaps, in-bucket ties, and span bounds). */
  def resampleFill(rows: DataFrame, key: String, ts: String, value: String,
      stepUs: Long, tieBreak: String): DataFrame = {
    require(stepUs > 0, s"stepUs must be positive, got $stepUs")
    // output adds bucket/observed next to key and value — a caller whose
    // columns collide would get silently shadowed results downstream
    val reserved = Seq("bucket", "observed")
    require(!reserved.contains(key) && !reserved.contains(value),
      s"key/value must not be named ${reserved.mkString("/")} — rename before calling")
    val t = tsLong(rows, ts)
    val obs = rows.select(col(key).as("__k"),
      floor(t / lit(stepUs)).cast("long").as("__b"),
      t.as("__t"), col(tieBreak).as("__tb"), col(value).as("__v"))
      .filter(col("__v").isNotNull)
    val w1 = Window.partitionBy("__k", "__b")
      .orderBy(desc("__t"), desc("__tb"))
    val lastPer = obs.withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") === 1)
      .select(col("__k"), col("__b"), col("__v"), lit(true).as("__obs"))
    val grid = lastPer.groupBy("__k")
      .agg(min("__b").as("__mn"), max("__b").as("__mx"))
      .select(col("__k"), explode(sequence(col("__mn"), col("__mx"))).as("__b"))
    val w2 = Window.partitionBy("__k").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(lastPer, Seq("__k", "__b"), "left")
      .select(col("__k").as(key), col("__b").as("bucket"),
        last(col("__v"), ignoreNulls = true).over(w2).as(value),
        coalesce(col("__obs"), lit(false)).as("observed"))
  }

  private def qResampleFill(s: SparkSession, d: String): DataFrame =
    resampleFill(Tables(s, d, "events"), "user_id", "ts", "value",
      stepUs = 86400000000L, tieBreak = "event_id")
      .orderBy("user_id", "bucket")

  /** Rolling-window distinct counts — the DAU/WAU/MAU query: for every
    * `stepUs` bucket, how many distinct keys were active in the trailing
    * `windowBuckets` buckets (window END = the reported bucket). Exact,
    * and scalable the standard way: distinct (key, bucket) activity is
    * REPLICATED to each window it can serve — a bounded ×windowBuckets
    * fan-out of the already-deduplicated activity table (never of raw
    * events) — then one count-distinct per bucket. No self-join, no
    * per-window scan; shuffle volume = |active (key,bucket)| ×
    * windowBuckets. Every bucket between the corpus's first and last
    * active bucket is reported — interior buckets whose trailing window
    * is empty report an explicit `n_active = 0` (a dashboard consumer
    * joining on a calendar axis must see zero, not a missing row); the
    * zero spine is one `sequence` off the global (min, max) bounds,
    * bucket-cardinality-sized. Buckets beyond the last active bucket are
    * not invented; leading windows report their partial history, the
    * standard dashboard semantics.
    *
    * Returns (bucket, n_active).
    *
    * LIBRARY ENTRY POINT — generic over any keyed, timestamped frame
    * (ApiSpec plants a known activity pattern). */
  def rollingDistinct(rows: DataFrame, key: String, ts: String,
      stepUs: Long, windowBuckets: Int): DataFrame = {
    require(stepUs > 0, s"stepUs must be positive, got $stepUs")
    require(windowBuckets >= 1,
      s"windowBuckets must be >= 1, got $windowBuckets")
    val ud = rows.select(col(key).as("__k"),
      floor(tsLong(rows, ts) / lit(stepUs)).cast("long").as("__b"))
      .distinct()
    // consumed twice: replication cap + spine
    val bounds = Pins.checkpoint(
      ud.agg(min("__b").as("__mnb"), max("__b").as("__mxb")))
    val counts = ud.crossJoin(broadcast(bounds))
      .select(col("__k"), explode(sequence(col("__b"),
        least(col("__b") + lit(windowBuckets - 1L), col("__mxb"))))
        .as("bucket"))
      .groupBy("bucket")
      .agg(count_distinct(col("__k")).as("n_active"))
    bounds
      .select(explode(sequence(col("__mnb"), col("__mxb"))).as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_active"), lit(0L)).as("n_active"))
      .orderBy("bucket")
  }

  private def qRollingActive(s: SparkSession, d: String): DataFrame =
    rollingDistinct(Tables(s, d, "events"), "user_id", "ts",
      stepUs = 86400000000L, windowBuckets = 7)

  /** Per-key next-state transition counts — the first-order Markov view
    * of a keyed event stream (what follows what, per key, in time order),
    * with the per-from-state transition probability. One window pass for
    * the successor + one aggregation; the probability window runs over
    * ≤ |states|² rows, so it is never a scale concern. Ties on (key, ts)
    * resolve by `tieBreak` ascending, making replays deterministic even
    * on coarse timestamps.
    *
    * Returns (`state` as from-state, next_<state>, n, p).
    *
    * LIBRARY ENTRY POINT — generic over any keyed, timestamped,
    * state-labeled frame (ApiSpec plants a known chain). */
  def transitionMatrix(rows: DataFrame, key: String, ts: String,
      state: String, tieBreak: String): DataFrame = {
    val nextCol = s"next_$state"
    // the output carries (state, next_<state>, n, p): a state column
    // named n/p would be overwritten by the count/probability columns,
    // and an existing next_<state> column would be shadowed by the lead
    require(state != "n" && state != "p",
      s"state column must not be named n or p, got '$state'")
    require(!rows.columns.contains(nextCol),
      s"frame already has a '$nextCol' column — rename before calling")
    val w = Window.partitionBy(col(key))
      .orderBy(tsLong(rows, ts), col(tieBreak))
    val pw = Window.partitionBy(col(state))
    rows
      .withColumn(nextCol, lead(col(state), 1).over(w))
      .filter(col(nextCol).isNotNull)
      .groupBy(col(state), col(nextCol))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", graft.Det.r4(col("n") / sum(col("n")).over(pw)))
      .orderBy(col(state), col(nextCol))
  }

  private def eventTransitions(s: SparkSession, d: String): DataFrame =
    transitionMatrix(Tables(s, d, "events"), "user_id", "ts", "event_type",
      tieBreak = "event_id")

  val defs: Seq[QDef] = Seq(
    QDef("q_cohort_retention", qCohortRetention, Some(
      """SELECT (cohort_day + 3) // 7 AS cohort_week,
        | (day - cohort_day) // 7 AS week_offset,
        | count(DISTINCT user_id) AS active_users
        | FROM (SELECT user_id, day,
        |   min(day) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |        FROM events))
        | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QDef("q_rolling_active", qRollingActive, Some(
      """WITH ud AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS b FROM events),
        |bounds AS (SELECT min(b) AS mnb, max(b) AS mxb FROM ud),
        |cover AS (SELECT user_id,
        |  unnest(generate_series(b, least(b + 6, mxb))) AS bucket
        | FROM ud, bounds),
        |counts AS (SELECT bucket, count(DISTINCT user_id) AS n_active
        | FROM cover GROUP BY 1),
        |spine AS (SELECT unnest(generate_series(mnb, mxb)) AS bucket
        | FROM bounds)
        |SELECT s.bucket, coalesce(c.n_active, 0) AS n_active
        | FROM spine s LEFT JOIN counts c USING (bucket) ORDER BY 1""".stripMargin)),
    QDef("q_resample_fill", qResampleFill, Some(
      """WITH obs AS (SELECT user_id, epoch_us(ts) // 86400000000 AS b, value,
        |  row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000
        |                     ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        | FROM events WHERE value IS NOT NULL),
        |lastobs AS (SELECT user_id, b, value FROM obs WHERE rn = 1),
        |bounds AS (SELECT user_id, min(b) AS mn, max(b) AS mx
        |           FROM lastobs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS b
        |         FROM bounds)
        |SELECT g.user_id, g.b AS bucket,
        | last_value(l.value IGNORE NULLS) OVER (PARTITION BY g.user_id
        |   ORDER BY g.b ROWS UNBOUNDED PRECEDING) AS value,
        | l.b IS NOT NULL AS observed
        | FROM grid g LEFT JOIN lastobs l ON g.user_id = l.user_id AND g.b = l.b
        | ORDER BY 1, 2""".stripMargin)),
    QDef("q_event_transitions", eventTransitions, Some(
      s"""SELECT event_type, next_event_type, count(*) AS n,
         | ${graft.Det.r4Sql("count(*) / sum(count(*)) OVER (PARTITION BY event_type)")} AS p
         | FROM (SELECT event_type, user_id,
         |   lead(event_type) OVER (PARTITION BY user_id
         |     ORDER BY epoch_us(ts), event_id) AS next_event_type
         |  FROM events)
         | WHERE next_event_type IS NOT NULL
         | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QDef("q_funnel", funnel, Some(
      """SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
        | count(CASE WHEN t_view < t_click THEN 1 END) AS n_view_click,
        | count(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 END)
        |   AS n_full_funnel
        | FROM (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
        |  min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        |  FROM events GROUP BY 1)""".stripMargin)),
    QDef("q_time_weighted", timeWeighted, Some(
      s"""SELECT user_id, count(*) AS n_intervals,
         | ${graft.Det.r4Sql(graft.Det.dsumSql("value * dt") + " / sum(dt)")} AS twa
         | FROM (SELECT user_id, value,
         |   lead(epoch_us(ts)) OVER (PARTITION BY user_id
         |     ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS dt
         |  FROM events)
         | WHERE dt IS NOT NULL
         | GROUP BY 1 HAVING sum(dt) > 0 ORDER BY user_id""".stripMargin)),
    QDef("q_join_asof", joinAsof, Some(
      """SELECT a.event_id AS click_id, a.user_id, epoch_us(a.ts) AS click_ts_us,
        | b.event_id AS purch_id, epoch_us(b.ts) AS purch_ts_us,
        | b.value AS purch_value
        | FROM (SELECT * FROM events WHERE event_type = 'click') a
        | ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id AND a.ts >= b.ts
        | ORDER BY click_id""".stripMargin)),
    QDef("q_join_range", joinRange, Some(
      """SELECT a.user_id, a.event_id AS purch_id, b.event_id AS click_id,
        | epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
        | FROM (SELECT * FROM events WHERE event_type = 'purchase') a
        | JOIN (SELECT * FROM events WHERE event_type = 'click') b
        |  ON a.user_id = b.user_id
        |  AND epoch_us(b.ts) >= epoch_us(a.ts)
        |  AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
        | ORDER BY purch_id, click_id""".stripMargin))
  )
}
