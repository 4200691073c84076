package graft.operators

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-equivalent forms of the streaming operators (SURVEY §2B "Streaming"):
  * tumbling/sliding windows, sessionization, dedup. The streaming forms (with
  * watermarks, `window()`/`session_window()` on readStream) live in
  * `graft.streaming` and are verified by ScalaTest against these same shapes;
  * here each query is expressed so a DuckDB oracle can hash-match it.
  */
object StreamEquivQueries extends QueryGroup {

  /** Q29: tumbling hourly window ≡ date_trunc group. */
  private val q29: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("hr", "event_type")

  /** Q30: sliding window (1 h / 15 min) via Spark's native `window()`; each
    * event lands in exactly 4 epoch-aligned windows. The oracle reproduces the
    * window arithmetic with a generate_series cross join.
    */
  private val q30: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy("win_start", "event_type")

  /** Q31: sessionization (30-min inactivity gap) via lag + running sum —
    * single shuffle on user_id; works identically on a 100 TB event log
    * because state is per-user and streaming-friendly
    * (`session_window()` is the streaming twin).
    */
  private val q31: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        epochUs(col("ts")).as("us"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(run).cast("long"))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"))
      .orderBy("user_id", "session_id")
  }

  /** Q32: dedup — keep the earliest event per (user, type, minute); the
    * streaming twin is dropDuplicatesWithinWatermark. */
  private val q32: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "event_type", "minute")
      .orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("minute", date_trunc("minute", col("ts")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "minute", "event_id")
      .orderBy("user_id", "event_type", "minute")
  }

  /** Q119: hourly gap-fill / resample — the time-series densification
    * every monitoring rollup needs: a complete hourly spine from the
    * corpus' global [min, max] hour crossed with the event-type dimension
    * (explode of a `sequence(h0, h1, interval 1 hour)` — ~720 rows per
    * type here), left-joined against the q29-style hourly aggregate, and
    * missing buckets filled with explicit zeros plus a `filled` marker.
    *
    * Scale shape: the spine is |types| × |hours| — dimension-sized, never
    * event-sized — built from a broadcast 2-value bounds row; the hourly
    * aggregate is one partial-agg pass; the left join is spine-sized. At
    * 100 TB of events the spine is still tiny (types × hours), so the
    * join broadcasts the spine side if the optimizer picks it — either
    * direction is dimension-scale. */
  private val q119: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("event_type"),
      date_trunc("hour", col("ts")).as("h"), col("value"))
    val agg = e.groupBy("event_type", "h")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
    val bounds = e.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = e.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(
        sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    spine.join(agg, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("total_value"), lit(0.0)).as("total_value"),
        col("n").isNull.as("filled"))
      .orderBy("event_type", "h")
  }

  /** Q120: forward-fill (LOCF) over the gap-filled hourly series — the
    * companion interpolation to q119's zero-fill: each fabricated bucket
    * carries the last OBSERVED hourly mean forward (`last(_, ignoreNulls)`
    * over an unbounded-preceding frame per event_type; leading gaps stay
    * NULL — there is nothing to carry). The per-type window runs over the
    * DIMENSION-SIZED spine (~720 rows/type), not the event stream, so the
    * single-partition-per-type window is a non-issue at any event volume.
    * Mean = exact-decimal sum / count (the davg contract), NULL where no
    * rows landed in the bucket. */
  private val q120: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("event_type"),
      date_trunc("hour", col("ts")).as("h"), col("value"))
    val agg = e.groupBy("event_type", "h")
      .agg(davg(col("value")).as("mean_value"))
    val bounds = e.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = e.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(
        sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(agg, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), col("mean_value"),
        last(col("mean_value"), ignoreNulls = true).over(w).as("locf_value"))
      .orderBy("event_type", "h")
  }

  /** Q121: ordered funnel stages — the conversion analysis every event
    * product ships: per user, the first `view`, the first `click` strictly
    * AFTER that view, and the first `purchase` strictly after that click
    * (order matters: a purchase before the click does not count). Three
    * user-keyed min-aggregations chained by two user-keyed joins — every
    * stage partitions on user_id, so the whole funnel is one hash family
    * at any event volume, no windows and no per-user sort.
    *
    * Ties: events carry distinct micro-timestamps per user in this data;
    * strict `>` comparisons make stage ordering unambiguous either way
    * (an equal-timestamp click does NOT follow its view). */
  private val q121: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        col("t_click").isNotNull.as("reached_click"),
        col("t_purchase").isNotNull.as("reached_purchase"))
      .orderBy("user_id")
  }

  /** Q122: weekly cohort retention — users grouped by first-activity week
    * (the cohort), each later activity week counted distinctly, and the
    * retention ratio = active members / cohort size as ONE double
    * division over exact BIGINTs. Two user-keyed aggs and one broadcast
    * join against the (tiny) cohort-size table; activity weeks are
    * dimension-sized. `week_offset` uses exact date arithmetic
    * (datediff / 7 in integer math), never timestamp subtraction. */
  private val q122: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("user_id"),
      date_trunc("week", col("ts")).as("w"))
    val cohort = e.groupBy("user_id").agg(min(col("w")).as("cohort_w"))
    val active = e.distinct().join(cohort, "user_id")
    val sizes = cohort.groupBy("cohort_w").agg(count(lit(1)).as("cohort_n"))
    active.groupBy("cohort_w", "w")
      .agg(count(lit(1)).as("active_n"))
      .join(broadcast(sizes), "cohort_w")
      .select(col("cohort_w"),
        call_function("div", datediff(col("w"), col("cohort_w")).cast("long"),
          lit(7L)).as("week_offset"),
        col("active_n"), col("cohort_n"),
        (col("active_n").cast("double") / col("cohort_n")).as("retention"))
      .orderBy("cohort_w", "week_offset")
  }

  /** Q224: exact-integer 3σ outlier audit — the per-type SUMMARY form of
    * the q117/q137 outlier family, with the flag decided ENTIRELY in
    * integer space: |x − μ| > 3σ cross-multiplies to
    * (n·x − Σx)² > 9·(n·Σx² − (Σx)²), so no engine ever computes a mean,
    * a variance or a square root and the verdict is bit-identical (q117
    * flags rows through mirrored DOUBLE μ/σ² ops — determinism by
    * discipline; here it holds by construction. The q95 contract pushed
    * through a SECOND moment; q221 stops at σ — this never leaves the
    * integers at all). Values enter as exact cents
    * via one DECIMAL(18,2) cast (the events `value` column is 2-decimal
    * data in a DOUBLE; a 2-dp double is never a rounding tie at 2-dp —
    * the q199 boundary argument); the cross-multiplied squares run in
    * DECIMAL(38,0) (dev² ≈ (n·cents)² clears BIGINT at ~2·10⁵ rows/type
    * already — measured here, not hypothetical).
    *
    * Scale shape: one grouped moment pass (map-side partials), the
    * 5-row stats table broadcast back over the stream, one grouped
    * verdict fold. Two data-sized passes, zero windows/pairs. */
  private val q224: Q = (s, d) =>
    outlierAudit(Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents")))

  /** q224 core over any (event_id, event_type, cents) frame — separated
    * so the spec can pin the flag set against a driver BigDecimal
    * mean/σ recount on constructed fixtures (including the exact
    * |x−μ| = 3σ boundary, which the strict > must NOT flag). */
  /** The q224 per-type second moments — the FROZEN model a streaming gate
    * judges against (refit in batch, broadcast to the stream). */
  private[graft] def outlierStats(e: DataFrame): DataFrame =
    e.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sx"),
        sum(col("cents") * col("cents")).as("sxx"))

  /** The q224 integer 3σ verdict per row against a stats table — works
    * unchanged on a STREAMING `e` (stream-static broadcast join, stateless
    * map-side; StreamingOutlierSpec pins batch ≡ streamed flags). */
  private[graft] def flagOutliers(e: DataFrame, st: DataFrame): DataFrame =
    e.join(broadcast(st), "event_type")
      .withColumn("dev",
        expr("""cast(n as decimal(38,0)) * cast(cents as decimal(38,0))
          - cast(sx as decimal(38,0))"""))
      .withColumn("var9",
        expr("""9 * (cast(n as decimal(38,0)) * cast(sxx as decimal(38,0))
          - cast(sx as decimal(38,0)) * cast(sx as decimal(38,0)))"""))
      .select(col("event_type"), col("event_id"), col("cents"),
        (col("dev") * col("dev") > col("var9")).as("is_outlier"))

  private[operators] def outlierAudit(e: DataFrame): DataFrame = {
    val st = outlierStats(e)
    val flagged = flagOutliers(e, st)
    val outs = flagged.groupBy("event_type")
      .agg(sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        min(when(col("is_outlier"), col("cents"))).as("min_outlier_cents"),
        max(when(col("is_outlier"), col("cents"))).as("max_outlier_cents"),
        coalesce(sum(when(col("is_outlier"), col("event_id"))), lit(0L))
          .as("outlier_id_checksum"))
    st.join(outs, "event_type")
      .select(col("event_type"), col("n").as("n_events"),
        col("sx").as("sum_cents"),
        expr("(1000 * sx) div n").as("mean_cents_x1000"),
        col("n_outliers"),
        expr("(1000 * n_outliers) div n").as("outlier_pm"),
        col("min_outlier_cents"), col("max_outlier_cents"),
        col("outlier_id_checksum"))
      .orderBy("event_type")
  }

  /** Q123: event-type transition matrix — the first-order Markov
    * statistics of the event stream (what session-replay and
    * next-event-prediction features train on): for each (from, to) pair
    * of CONSECUTIVE events per user, the transition count and the
    * conditional probability `n / Σ_to n` as one double division over
    * exact BIGINTs. One user-partitioned lead window (the q31 shape — a
    * per-user sort, streaming-friendly state), one pair aggregation to a
    * |types|² matrix, one broadcast-sized totals join. */
  private val q123: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val trans = e.groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum(col("n")).as("total"))
    trans.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("total")).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** Q256: transition DWELL times — q123 says WHERE sessions go; this
    * says HOW LONG they linger before each transition, the product-
    * analytics latency readout (time from view to purchase, error to
    * retry). Per consecutive event pair inside a user's (event-time, id)
    * order: the exact µs gap, aggregated per (from, to) transition as
    * count, exact total/min/max µs dwell, and the count of sub-minute
    * transitions (the "immediate bounce" share numerator) — all BIGINT;
    * the one division (mean dwell seconds) is pinned.
    *
    * Scale shape: one shuffle on user_id, one lag window, one partial-agg
    * groupBy over ≤ |types|² transitions — streaming-friendly (the same
    * per-key state as q246's matcher). */
  private val q256: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        epochUs(col("ts")).as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("dwell_us", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("dwell_us")).as("sum_us"),
        min(col("dwell_us")).as("min_us"),
        max(col("dwell_us")).as("max_us"),
        sum(when(col("dwell_us") < 60000000L, 1L).otherwise(0L))
          .as("n_sub_minute"))
      .withColumn("mean_dwell_sec",
        col("sum_us").cast("double") /
          (lit(1000000.0) * col("n").cast("double")))
      .orderBy("from_type", "to_type")
  }

  /** Q124: incremental rollup maintenance — the q82 no-recompute story
    * applied to AGGREGATES: the stored hourly rollup (computed over the
    * historical 3/4 of events) absorbs a new batch (the remaining 1/4) by
    * MERGING partial states — counts add, exact DECIMAL sums add — instead
    * of re-scanning history. The declared result must equal the full
    * recompute, and the oracle IS the direct q29-style SQL: the
    * equality is the check (the q114 move). Decimal partials stay exact
    * through the merge; the double conversion happens once at the end
    * (the dsum contract, preserved across merges by construction).
    *
    * Scale shape: the stored rollup is buckets × types (dimension-sized);
    * each ingest aggregates ONLY its batch and merges — at a 100 TB event
    * history this is the difference between an ingest costing
    * O(batch) and O(history). */
  private val q124: Q = (s, d) => {
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.events(s, d).select(col("event_id"), col("event_type"),
      date_trunc("hour", col("ts")).as("hr"), col("value"))
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("hr", "event_type").agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("dsum"))
    val stored = partial(e.filter(col("event_id") % 4 =!= 0))
    val batch = partial(e.filter(col("event_id") % 4 === 0))
    stored.unionByName(batch)
      .groupBy("hr", "event_type")
      .agg(sum(col("n")).as("n"), sum(col("dsum")).as("merged"))
      .select(col("hr"), col("event_type"), col("n"),
        col("merged").cast("double").as("total_value"))
      .orderBy("hr", "event_type")
  }

  /** Q141: funnel with conversion deadlines — q121's ordered stages under
    * the realistic product metric: a click only converts within 24 h of
    * the first view, a purchase within 24 h of that click, reported as a
    * per-view-day conversion table (views, bounded clicks, bounded
    * purchases, and the two rates as single double divisions over exact
    * BIGINTs). Timestamp + INTERVAL arithmetic is exact on NTZ values in
    * both engines; same one-hash-family scale shape as q121. */
  private val q141: Q = (s, d) => {
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t_view") &&
        col("ts") <= col("t_view") + expr("interval 24 hours"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click") &&
        col("ts") <= col("t_click") + expr("interval 24 hours"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(date_trunc("day", col("t_view")).as("view_day"),
        col("t_click"), col("t_purchase"))
      .groupBy("view_day")
      .agg(count(lit(1)).as("n_view"),
        count(col("t_click")).as("n_click_24h"),
        count(col("t_purchase")).as("n_purchase_24h"))
      .withColumn("click_rate",
        col("n_click_24h").cast("double") / col("n_view"))
      .withColumn("purchase_rate",
        col("n_purchase_24h").cast("double") / col("n_view"))
      .orderBy("view_day")
  }

  /** Q180: time-decayed user activity (EWMA, α = 1/2) — the recency-
    * weighted feature every engagement model wants where a plain sum
    * treats year-old events like yesterday's. Halving is the ONE decay
    * factor that is oracle-safe: s_k = (s_{k-1} + v_k) / 2 is an exact
    * exponent decrement after one correctly-rounded addition, so both
    * engines produce bit-identical doubles GIVEN the same fold order —
    * which the (ts, event_id) total order pins (the q47 sequential-fold
    * contract; a general α multiplies by an inexact double and still
    * works, but 1/2 makes the determinism argument airtight). One
    * user-keyed shuffle; per-user state = that user's event list (the
    * inherently-sequential-per-key shape — at 100 TB the fold is still
    * one pass per user, and hot users are one list each). */
  private val q180: Q = (s, d) =>
    Tables.events(s, d).filter(col("value").isNotNull)
      .groupBy("user_id")
      .agg(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("value")))).as("evs"))
      .select(col("user_id"),
        size(col("evs")).cast("long").as("n_events"),
        expr("""aggregate(transform(evs, e -> e.value), CAST(0.0 AS DOUBLE),
          (acc, v) -> (acc + v) / 2)""").as("ewma"),
        element_at(col("evs"), -1).getField("value").as("last_value"))
      .orderBy("user_id")

  /** Q145:point-in-time feature join — the feature-store correctness op:
    * every `purchase` (the label event) is enriched with features computed
    * from STRICTLY-PRECEDING events only (the leakage guard train/serve
    * skew audits check; q12's as-of allows `<=`, which leaks the label
    * instant itself): the latest prior `view`'s value and its age, the
    * latest prior `click`'s value, and the count of prior clicks.
    *
    * Shape: one user-keyed window family over (us, event_id) with a
    * ROWS … 1 PRECEDING frame — a single hash shuffle at any event volume,
    * no self-joins, no per-feature passes. "Latest prior X" is
    * max(struct(us, event_id, value)) over the frame (the q44 argmax
    * move; event_id breaks equal-timestamp ties identically in both
    * engines), which DuckDB mirrors with struct max + struct_extract. */
  private val q145: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      epochUs(col("ts")).as("us"), col("event_type"), col("value"))
    val frame = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lastView = max(when(col("event_type") === "view",
      struct(col("us"), col("event_id"), col("value")))).over(frame)
    val lastClick = max(when(col("event_type") === "click",
      struct(col("us"), col("event_id"), col("value")))).over(frame)
    val clicksBefore = sum(when(col("event_type") === "click", 1L)
      .otherwise(0L)).over(frame)
    ev.withColumn("lv", lastView)
      .withColumn("lc", lastClick)
      .withColumn("f_clicks_before", coalesce(clicksBefore, lit(0L)))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us"),
        col("value").as("label"),
        col("lv.value").as("f_view_value"),
        (col("us") - col("lv.us")).as("f_view_age_us"),
        col("lc.value").as("f_click_value"),
        col("f_clicks_before"))
      .orderBy("event_id")
  }

  /** Q159: attribution lookup — clicks matched to every purchase whose
    * 480-minute lookback window contains them, per user (the
    * marketing-attribution / window-enrichment primitive; q121's funnel
    * asks "did the sequence complete", THIS asks "which conversion does
    * each touch belong to", many-to-many by design). Times collapse to
    * epoch MINUTES (integer µs div — exact in both engines) so the
    * window arithmetic is pure BIGINT.
    *
    * Bound to [[IntervalJoin.pointInIntervals]]: purchase windows
    * explode to ≤2 width-512 bands, each click carries its single band,
    * and the (user, band) equi-join plus the containment filter finds
    * every pair exactly once — no per-user quadratic, no distinct; on a
    * streaming click feed the same operator is a stateless map-side
    * enrich against the broadcast window table. Oracle = the naive
    * theta-join. */
  private val q159: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("us", epochUs(col("ts")))
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("us div 60000000").as("m"))
    val clicks = ev.filter(col("event_type") === "click")
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("m") - 480).as("w_start"), col("m").as("w_end"))
    IntervalJoin.pointInIntervals(clicks, purch,
        key = "user_id", pointId = "event_id", t = "m",
        intervalId = "purchase_id", start = "w_start", end = "w_end",
        maxLen = 480L, bandWidth = 512L)
      .select(col("user_id"), col("point_id").as("click_id"),
        col("interval_id").as("purchase_id"),
        (col("e") - col("t")).as("lag_min"))
      .orderBy("click_id", "purchase_id")
  }

  /** Q169: sequential-pattern support — "A followed by B within 30
    * minutes" counts for every ordered event-type pair (the 2-length
    * sequential-pattern mining primitive [Agrawal & Srikant ICDE'95's
    * support counting], generalizing q123's ADJACENT-only transition
    * matrix to any-gap-within-window follows). Emits raw occurrence
    * support and distinct-user support per (antecedent, consequent).
    *
    * The follow relation is the q155/q159 banding again, composed the
    * other way round: each event opens a (m, m+30] lookback-forward
    * window (strictness via the integer-minute +1 shift — closed-band
    * machinery, strict semantics), windows explode to ≤2 width-32
    * bands, followers join on (user, band) with the exact containment
    * filter. Shuffle stays linear in events; the |types|² aggregation
    * is domain-bounded. Oracle = the naive per-user theta-join. */
  private val q169: Q = (s, d) => {
    val W = 32
    val ev = Tables.events(s, d)
      .withColumn("us", epochUs(col("ts")))
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("us div 60000000").as("m"))
    val iv = ev.select(col("user_id"), col("event_type").as("a_type"),
        (col("m") + 1).as("s"), (col("m") + 30).as("e"))
      .withColumn("band", explode(expr(s"sequence(s div $W, e div $W)")))
    val pt = ev.select(col("user_id").as("pu"),
        col("event_type").as("b_type"), col("m"))
      .withColumn("band", expr(s"m div $W"))
    pt.join(iv, col("pu") === col("user_id") && pt("band") === iv("band"))
      .filter(col("s") <= col("m") && col("m") <= col("e"))
      .groupBy("a_type", "b_type")
      .agg(count(lit(1)).as("support"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("a_type", "b_type")
  }

  /** Q246: MATCH_RECOGNIZE-style sequence pattern detection — the
    * SQL:2016 `PATTERN (V N* P)` question ("purchases preceded by a view
    * with no error in between" — conversion integrity) answered with
    * running-state windows instead of a quadratic self-join: for every
    * event, the running last-position of 'view' and of 'error' among
    * STRICTLY preceding events (max-if over ROWS UNBOUNDED PRECEDING → 1
    * PRECEDING); a purchase matches iff a view precedes it and the last
    * error (if any) precedes that view. Per user: purchases, clean
    * conversions, first match position (−1 when none).
    *
    * Scale shape: one shuffle on user_id, then per-user linear window
    * state — the MATCH_RECOGNIZE evaluation model itself, and exactly the
    * per-key running state a streaming twin would keep in
    * mapGroupsWithState. Total order inside a user is (epoch µs,
    * event_id), so results are deterministic under any parallelism. */
  private val q246: Q = (s, d) => {
    val ord = Window.partitionBy("user_id").orderBy("us", "event_id")
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val matched = col("event_type") === "purchase" &&
      col("lv").isNotNull && col("lv") > coalesce(col("le"), lit(-1L))
    Tables.events(s, d)
      .withColumn("us", epochUs(col("ts")))
      .select(col("event_id"), col("user_id"), col("event_type"), col("us"))
      .withColumn("pos", row_number().over(ord).cast("long"))
      .withColumn("lv",
        max(when(col("event_type") === "view", col("pos"))).over(prev))
      .withColumn("le",
        max(when(col("event_type") === "error", col("pos"))).over(prev))
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(when(matched, 1L).otherwise(0L)).as("n_clean_conversions"),
        coalesce(min(when(matched, col("pos"))), lit(-1L))
          .as("first_match_pos"))
      .orderBy("user_id")
  }

  /** Q260: QUANTIFIED MATCH_RECOGNIZE — `PATTERN (V C+ P)` ("a view, one
    * or MORE consecutive clicks, then a purchase" — the engaged-funnel
    * question), extending q246's fixed-sequence matcher with a
    * variable-length quantifier. Evaluation is gaps-and-islands, the
    * relational form of greedy quantification: maximal consecutive click
    * runs per user (island id = pos − click-ordinal), a run matches iff
    * the row immediately BEFORE it is a view and the row immediately
    * AFTER it is a purchase. Maximal islands give C+ its standard
    * greedy/maximal-munch semantics for free, and because the terminator
    * P is disjoint from C, greedy and reluctant coincide here (SQL:2016's
    * default); matches are provably disjoint, so AFTER MATCH SKIP PAST
    * LAST ROW is vacuous. The quantifier's VARIABLE consumption is the
    * readout: clicks consumed and the longest run, per user, plus the
    * match count and the first match's V position (−1 when none) — users
    * with no match still report (the honest denominator).
    *
    * Scale shape: one shuffle on user_id for the position/ordinal
    * windows, then island aggregation and two (user, pos)-equi-joins for
    * the boundary probes — everything linear in events, never a
    * variable-length self-join. */
  private val q260: Q = (s, d) => {
    val ord = Window.partitionBy("user_id").orderBy("us", "event_id")
    val e = Tables.events(s, d)
      .withColumn("us", epochUs(col("ts")))
      .select(col("event_id"), col("user_id"), col("event_type"), col("us"))
      .withColumn("pos", row_number().over(ord).cast("long"))
    val clicks = e.filter(col("event_type") === "click")
      .withColumn("crn", row_number().over(
        Window.partitionBy("user_id").orderBy("pos")).cast("long"))
      .withColumn("isl", col("pos") - col("crn"))
    val runs = clicks.groupBy("user_id", "isl")
      .agg(min("pos").as("a"), max("pos").as("b"),
        count(lit(1)).as("len"))
    val pv = e.select(col("user_id").as("vu"), col("pos").as("vp"),
      col("event_type").as("vt"))
    val nx = e.select(col("user_id").as("nu"), col("pos").as("np"),
      col("event_type").as("nt"))
    val m = runs
      .join(pv, col("vu") === col("user_id") &&
        col("vp") === col("a") - 1 && col("vt") === "view")
      .join(nx, col("nu") === col("user_id") &&
        col("np") === col("b") + 1 && col("nt") === "purchase")
      .select(col("user_id"), (col("a") - 1).as("vstart"), col("len"))
    val agg = m.groupBy("user_id").agg(
      count(lit(1)).as("n_matches"),
      sum(col("len")).as("n_clicks_consumed"),
      min(col("vstart")).as("first_match_start"),
      max(col("len")).as("max_run_len"))
    e.select(col("user_id")).distinct()
      .join(agg, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("n_clicks_consumed"), lit(0L)).as("n_clicks_consumed"),
        coalesce(col("first_match_start"), lit(-1L)).as("first_match_start"),
        coalesce(col("max_run_len"), lit(0L)).as("max_run_len"))
      .orderBy("user_id")
  }

  /** Q261: MATCH_RECOGNIZE with PREDICATE-defined symbols —
    * `PATTERN (STRT DOWN+ UP+)`, the classic V-shape price pattern
    * (Oracle's canonical MATCH_RECOGNIZE example): symbols are defined by
    * comparison against the PREVIOUS row (DOWN ⇔ value < PREV(value),
    * UP ⇔ value > PREV(value)), not by a type column — the other half of
    * the quantifier story q260 opened. Per user over (us, event_id)
    * order: direction-classify each row against its predecessor (lag),
    * gaps-and-islands the consecutive same-direction runs (FLAT and the
    * first row break runs), and every down-run immediately followed by an
    * up-run is a V — trough depth = run-start value − run-end value in
    * exact cents. Match semantics are AFTER MATCH SKIP TO LAST UP (the
    * canonical example's own skip mode: the V's peak seeds the next
    * match), which gaps-and-islands gives for free — every adjacent
    * (down-run, up-run) pair matches, W-shapes count twice by design.
    * Per user: V count, total and max drop, longest down-run (the
    * quantifier's variable consumption), −1/0 defaults for users with
    * none.
    *
    * Scale shape: one shuffle on user_id (the lag + island windows), run
    * aggregation is \|runs\|-sized, the match join is an equi-join on
    * (user, run boundary) — linear in events, never a self-join over the
    * value series. */
  private val q261: Q = (s, d) => {
    val ord = Window.partitionBy("user_id").orderBy("us", "event_id")
    val e = Tables.events(s, d)
      .withColumn("us", epochUs(col("ts")))
      .select(col("event_id"), col("user_id"), col("us"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * 100).cast("long").as("cents"))
      .withColumn("pos", row_number().over(ord).cast("long"))
      .withColumn("prev_cents", lag(col("cents"), 1).over(ord))
    val dirs = e.withColumn("dir",
        when(col("prev_cents").isNull, lit("X"))
          .when(col("cents") < col("prev_cents"), lit("D"))
          .when(col("cents") > col("prev_cents"), lit("U"))
          .otherwise(lit("F")))
      .filter(col("dir").isin("D", "U"))
      .withColumn("crn", row_number().over(
        Window.partitionBy("user_id", "dir").orderBy("pos")).cast("long"))
      .withColumn("isl", col("pos") - col("crn"))
    val runs = dirs.groupBy("user_id", "dir", "isl")
      .agg(min("pos").as("a"), max("pos").as("b"),
        count(lit(1)).as("len"),
        expr("min_by(prev_cents, pos)").as("from_cents"),
        expr("max_by(cents, pos)").as("to_cents"))
    val down = runs.filter(col("dir") === "D")
      .select(col("user_id"), col("b").as("b_d"), col("len").as("down_len"),
        col("from_cents").as("peak_cents"), col("to_cents").as("trough_cents"))
    val up = runs.filter(col("dir") === "U")
      .select(col("user_id").as("uu"), col("a").as("a_u"))
    val m = down.join(up, col("uu") === col("user_id") &&
        col("a_u") === col("b_d") + 1)
      .select(col("user_id"), col("down_len"),
        (col("peak_cents") - col("trough_cents")).as("drop_cents"))
    val agg = m.groupBy("user_id").agg(
      count(lit(1)).as("n_vshapes"),
      sum(col("drop_cents")).as("total_drop_cents"),
      max(col("drop_cents")).as("max_drop_cents"),
      max(col("down_len")).as("max_down_len"))
    e.select(col("user_id")).distinct()
      .join(agg, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("n_vshapes"), lit(0L)).as("n_vshapes"),
        coalesce(col("total_drop_cents"), lit(0L)).as("total_drop_cents"),
        coalesce(col("max_drop_cents"), lit(-1L)).as("max_drop_cents"),
        coalesce(col("max_down_len"), lit(0L)).as("max_down_len"))
      .orderBy("user_id")
  }

  /** Q170: GDPR erasure with INCREMENTAL rollup maintenance — the
    * right-to-be-forgotten operation at lake scale: when a user-id set
    * must be erased, the derived hourly rollup is maintained by
    * SUBTRACTING the erased rows' partial aggregates (counts and exact
    * DECIMAL sums are abelian-group values — q124's merge run in
    * reverse), never by re-aggregating history: O(erased) work instead
    * of O(all events), the only viable erasure at 100 TB. Buckets whose
    * count reaches zero drop from the rollup entirely (an empty bucket
    * must not linger as a zero row — it would leak that the hour HAD
    * activity). The erased cohort is user_id ≡ 3 (mod 17).
    *
    * The ORACLE aggregates the surviving events directly — the hash
    * match IS the proof that subtract-partials erasure is exact (the
    * decimal sums make the subtraction lossless; double sums would
    * not survive this). */
  private val q170: Q = (s, d) => {
    import org.apache.spark.sql.types.DecimalType
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"),
      date_trunc("hour", col("ts")).as("hr"), col("value"))
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("hr", "event_type").agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("psum"))
    val full = partial(e)
    val erased = partial(e.filter(col("user_id") % 17 === 3))
      .select(col("hr"), col("event_type"),
        (-col("n")).as("n"), (-col("psum")).as("psum"))
    full.unionByName(erased)
      .groupBy("hr", "event_type")
      .agg(sum(col("n")).as("n"), sum(col("psum")).as("merged"))
      .filter(col("n") > 0)
      .select(col("hr"), col("event_type"), col("n"),
        col("merged").cast("double").as("total_value"))
      .orderBy("hr", "event_type")
  }

  /** Q171: attribution models — q159 finds WHICH touches belong to each
    * conversion (many-to-many); THIS resolves the credit question every
    * marketing report actually asks: per purchase, the FIRST-touch and
    * LAST-touch click inside the 480-minute lookback, plus the touch
    * count (the multi-touch denominator). Both picks are argmin/argmax
    * over (minute, click_id) structs — the q44/q145 move, ties broken by
    * the id identically cross-engine — grouped per purchase from the
    * SAME banded point-in-interval pairs q159 emits, so the pair stage
    * stays linear in events. Purchases with no touch in window emit
    * nothing (no credit to assign — the honest readout). */
  private val q171: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("us", epochUs(col("ts")))
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("us div 60000000").as("m"))
    val clicks = ev.filter(col("event_type") === "click")
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("m") - 480).as("w_start"), col("m").as("w_end"))
    IntervalJoin.pointInIntervals(clicks, purch,
        key = "user_id", pointId = "event_id", t = "m",
        intervalId = "purchase_id", start = "w_start", end = "w_end",
        maxLen = 480L, bandWidth = 512L)
      .groupBy(col("user_id"), col("interval_id").as("purchase_id"))
      .agg(count(lit(1)).as("n_touches"),
        expr("min(struct(t, point_id)).point_id").as("first_touch_id"),
        expr("max(struct(t, point_id)).point_id").as("last_touch_id"))
      .orderBy("purchase_id")
  }

  /** Q278: batch equivalent of Spark's NATIVE watermarked stream-stream
    * join — the one streaming feature family the engine had no coverage
    * for (VERDICT r18 item 2): two live feeds (purchases ⋈ errors per
    * user, error inside the purchase's trailing 240-minute window — the
    * "events ⋈ enrichment" shape a real pipeline joins two streams on).
    * THIS query computes the reference answer in batch via the banded
    * interval join (pair stage linear in events, the q159/q171 machinery
    * — never a per-user theta product), aggregated per user with exact
    * integer checksums; StreamStreamJoinSpec pins Spark's built-in
    * stream-stream join — two `withWatermark` sides, the same time-range
    * condition, append mode — against exactly this result, plus the
    * state-eviction and late-drop semantics batch has no analogue for.
    *
    * Scale shape: the banded join shuffles on (user, time-band) so pair
    * work is ∝ events + pairs; the streaming twin's state is bounded by
    * the watermark horizon (rows older than watermark − window are
    * evicted — the spec MEASURES the shrink). All-integer outputs: µs
    * epoch arithmetic, id checksums, no float anywhere. */
  private val q278: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochUs(col("ts")).as("us"))
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("eid"), col("us"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        (col("us") - 14400000000L).as("w_start"), col("us").as("w_end"))
    IntervalJoin.pointInIntervals(errs, purch,
        key = "user_id", pointId = "eid", t = "us",
        intervalId = "pid", start = "w_start", end = "w_end",
        maxLen = 14400000000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("interval_id")).as("n_purchases"),
        sum(col("interval_id")).as("sum_pid"),
        sum(col("point_id")).as("sum_eid"))
      .orderBy("user_id")
  }

  /** Q279: the LEFT-OUTER readout of the q278 stream-stream join family —
    * the enrichment-coverage report a pipeline joining two live feeds
    * actually monitors: per user, how many purchases found an error
    * inside their trailing 240-minute window and how many closed
    * UNMATCHED (the null-extended rows Spark's left-outer stream-stream
    * join emits once the watermark passes a purchase's window —
    * StreamStreamJoinSpec pins that emission discipline). Batch form:
    * the banded inner pairs LEFT-joined back onto the purchase side
    * (pair stage linear in events, unmatched purchases never enter the
    * pair shuffle), with an unmatched-id checksum so one mis-classified
    * purchase hash-mismatches.
    *
    * Scale shape: q278's banded join + one purchase-keyed left join —
    * both shuffles on bounded keys; output is user-domain-sized. */
  private val q279: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochUs(col("ts")).as("us"))
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("eid"), col("us"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        (col("us") - 14400000000L).as("w_start"), col("us").as("w_end"))
    val matched = IntervalJoin.pointInIntervals(errs, purch,
        key = "user_id", pointId = "eid", t = "us",
        intervalId = "pid", start = "w_start", end = "w_end",
        maxLen = 14400000000L)
      .groupBy(col("user_id"), col("interval_id").as("pid"))
      .agg(count(lit(1)).as("n_errs"))
    purch.select(col("user_id"), col("pid"))
      .join(matched, Seq("user_id", "pid"), "left")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        count(col("n_errs")).as("n_matched"),
        sum(when(col("n_errs").isNull, 1L).otherwise(0L))
          .as("n_unmatched"),
        coalesce(sum(when(col("n_errs").isNull, col("pid"))), lit(0L))
          .as("unmatched_pid_sum"))
      .orderBy("user_id")
  }

  /** Q280: the FULL-OUTER readout completing the q278/q279 stream-stream
    * join family (VERDICT r19 item 2) — both null-extension directions
    * in one coverage report: per user, purchases that closed with no
    * in-window error (the LEFT-outer nulls) AND errors that fell in no
    * purchase's trailing window (the RIGHT-outer nulls — the direction
    * an enrich-from-the-other-side pipeline hits first), each with an
    * unmatched-id checksum so one mis-classified row on either side
    * hash-mismatches. StreamStreamJoinSpec pins Spark's native
    * right-outer and full-outer watermarked joins — including the
    * null-extension TIMING each direction (nothing extends before the
    * watermark closes its window) — against this batch truth.
    *
    * Batch form: q278's banded inner pairs (linear in events), then one
    * purchase-keyed left join (q279's move) + one error-keyed left
    * anti-ish flag join, full-outer-merged per user — a user with only
    * errors or only purchases still reports.
    *
    * Scale shape: every stage shuffles on (user) or (user, id) —
    * bounded keys; unmatched rows never enter the pair shuffle; output
    * is user-domain-sized. */
  private val q280: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochUs(col("ts")).as("us"))
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("eid"), col("us"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        (col("us") - 14400000000L).as("w_start"), col("us").as("w_end"))
    val pairs = IntervalJoin.pointInIntervals(errs, purch,
        key = "user_id", pointId = "eid", t = "us",
        intervalId = "pid", start = "w_start", end = "w_end",
        maxLen = 14400000000L)
    val perPurch = pairs
      .groupBy(col("user_id"), col("interval_id").as("pid"))
      .agg(count(lit(1)).as("n_errs"))
    val purchSide = purch.select(col("user_id"), col("pid"))
      .join(perPurch, Seq("user_id", "pid"), "left")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        coalesce(sum(col("n_errs")), lit(0L)).as("n_pairs"),
        sum(when(col("n_errs").isNull, 1L).otherwise(0L))
          .as("n_unmatched_purchases"),
        coalesce(sum(when(col("n_errs").isNull, col("pid"))), lit(0L))
          .as("unmatched_pid_sum"))
    val matchedE = pairs
      .select(col("user_id"), col("point_id").as("eid")).distinct
      .withColumn("mk", lit(1L))
    val errSide = errs.select(col("user_id"), col("eid"))
      .join(matchedE, Seq("user_id", "eid"), "left")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_errors"),
        sum(when(col("mk").isNull, 1L).otherwise(0L))
          .as("n_unmatched_errors"),
        coalesce(sum(when(col("mk").isNull, col("eid"))), lit(0L))
          .as("unmatched_eid_sum"))
    purchSide.join(errSide, Seq("user_id"), "full")
      .select(col("user_id"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_unmatched_purchases"), lit(0L))
          .as("n_unmatched_purchases"),
        coalesce(col("unmatched_pid_sum"), lit(0L))
          .as("unmatched_pid_sum"),
        coalesce(col("n_unmatched_errors"), lit(0L))
          .as("n_unmatched_errors"),
        coalesce(col("unmatched_eid_sum"), lit(0L))
          .as("unmatched_eid_sum"))
      .orderBy("user_id")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q159_join_point_in_window" -> q159,
    "q278_stream_stream_join" -> q278,
    "q279_stream_join_outer" -> q279,
    "q280_stream_join_full_outer" -> q280,
    "q169_seq_pattern_support" -> q169,
    "q246_seq_match_recognize" -> q246,
    "q256_transition_dwell" -> q256,
    "q260_seq_match_quantified" -> q260,
    "q261_seq_match_vshape" -> q261,
    "q170_gdpr_erase_rollup" -> q170,
    "q171_attribution_models" -> q171,
    "q141_funnel_windowed" -> q141,
    "q145_feature_pit_join" -> q145,
    "q180_ewma_decay" -> q180,
    "q29_stream_tumbling" -> q29,
    "q30_stream_sliding" -> q30,
    "q31_stream_session" -> q31,
    "q32_stream_dedup" -> q32,
    "q119_resample_gap_fill" -> q119,
    "q120_resample_locf" -> q120,
    "q121_funnel_stages" -> q121,
    "q122_cohort_retention" -> q122,
    "q123_event_transitions" -> q123,
    "q124_rollup_incremental" -> q124,
    "q224_event_outlier_audit" -> q224,
  )

  val oracles: Map[String, String] = Map(
    // stream-stream join batch twin: naive per-user window theta-join
    // (the engine runs the banded form); inclusive bounds both ends,
    // every sum cast back to BIGINT (the q91 gotcha)
    "q278_stream_stream_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |r AS (SELECT user_id, event_id AS eid, us FROM e
        |  WHERE event_type = 'error'),
        |p AS (SELECT user_id, event_id AS pid, us - 14400000000 AS w_start,
        |    us AS w_end FROM e WHERE event_type = 'purchase'),
        |pairs AS (SELECT p.user_id, p.pid, r.eid
        |  FROM r JOIN p ON r.user_id = p.user_id
        |    AND p.w_start <= r.us AND r.us <= p.w_end)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT pid) AS BIGINT) AS n_purchases,
        |  CAST(sum(pid) AS BIGINT) AS sum_pid,
        |  CAST(sum(eid) AS BIGINT) AS sum_eid
        |FROM pairs GROUP BY user_id ORDER BY user_id""".stripMargin,

    // left-outer stream-join readout: naive window theta-join LEFT-joined
    // back onto purchases; unmatched = purchases with zero in-window
    // errors, checksummed; sums cast back to BIGINT (the q91 gotcha)
    "q279_stream_join_outer" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |r AS (SELECT user_id, event_id AS eid, us FROM e
        |  WHERE event_type = 'error'),
        |p AS (SELECT user_id, event_id AS pid, us - 14400000000 AS w_start,
        |    us AS w_end FROM e WHERE event_type = 'purchase'),
        |m AS (SELECT p.user_id, p.pid,
        |    CAST(count(*) AS BIGINT) AS n_errs
        |  FROM r JOIN p ON r.user_id = p.user_id
        |    AND p.w_start <= r.us AND r.us <= p.w_end
        |  GROUP BY p.user_id, p.pid)
        |SELECT p.user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(count(m.n_errs) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN m.n_errs IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unmatched,
        |  CAST(coalesce(sum(CASE WHEN m.n_errs IS NULL THEN p.pid END), 0)
        |    AS BIGINT) AS unmatched_pid_sum
        |FROM p LEFT JOIN m ON p.user_id = m.user_id AND p.pid = m.pid
        |GROUP BY p.user_id ORDER BY p.user_id""".stripMargin,

    // full-outer stream-join readout: both null-extension directions —
    // naive window theta-join, purchase-side LEFT join + error-side
    // unmatched flag, FULL-merged per user; every count/sum coalesced to
    // 0 and cast back to BIGINT (the q91 gotcha)
    "q280_stream_join_full_outer" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |r AS (SELECT user_id, event_id AS eid, us FROM e
        |  WHERE event_type = 'error'),
        |p AS (SELECT user_id, event_id AS pid, us - 14400000000 AS w_start,
        |    us AS w_end FROM e WHERE event_type = 'purchase'),
        |pairs AS (SELECT p.user_id, p.pid, r.eid
        |  FROM r JOIN p ON r.user_id = p.user_id
        |    AND p.w_start <= r.us AND r.us <= p.w_end),
        |pp AS (SELECT user_id, pid, CAST(count(*) AS BIGINT) AS n_errs
        |  FROM pairs GROUP BY user_id, pid),
        |ps AS (SELECT p.user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |    CAST(coalesce(sum(pp.n_errs), 0) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN pp.n_errs IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_unmatched_purchases,
        |    CAST(coalesce(sum(CASE WHEN pp.n_errs IS NULL THEN p.pid END),
        |      0) AS BIGINT) AS unmatched_pid_sum
        |  FROM p LEFT JOIN pp ON p.user_id = pp.user_id AND p.pid = pp.pid
        |  GROUP BY p.user_id),
        |me AS (SELECT DISTINCT user_id, eid FROM pairs),
        |es AS (SELECT r.user_id, CAST(count(*) AS BIGINT) AS n_errors,
        |    CAST(sum(CASE WHEN me.eid IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_unmatched_errors,
        |    CAST(coalesce(sum(CASE WHEN me.eid IS NULL THEN r.eid END),
        |      0) AS BIGINT) AS unmatched_eid_sum
        |  FROM r LEFT JOIN me ON r.user_id = me.user_id AND r.eid = me.eid
        |  GROUP BY r.user_id)
        |SELECT coalesce(ps.user_id, es.user_id) AS user_id,
        |  coalesce(ps.n_purchases, 0) AS n_purchases,
        |  coalesce(es.n_errors, 0) AS n_errors,
        |  coalesce(ps.n_pairs, 0) AS n_pairs,
        |  coalesce(ps.n_unmatched_purchases, 0) AS n_unmatched_purchases,
        |  coalesce(ps.unmatched_pid_sum, 0) AS unmatched_pid_sum,
        |  coalesce(es.n_unmatched_errors, 0) AS n_unmatched_errors,
        |  coalesce(es.unmatched_eid_sum, 0) AS unmatched_eid_sum
        |FROM ps FULL JOIN es ON ps.user_id = es.user_id
        |ORDER BY user_id""".stripMargin,
    // outlier audit: same cents cast, same cross-multiplied second-moment
    // verdict in HUGEINT (DuckDB's native 128-bit ≡ Spark's
    // DECIMAL(38,0) here); every sum cast back to BIGINT (the q91 gotcha)
    "q224_event_outlier_audit" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS sx,
        |    CAST(sum(cents * cents) AS BIGINT) AS sxx
        |  FROM e GROUP BY event_type),
        |fl AS (SELECT e.event_type, e.event_id, e.cents,
        |    (CAST(st.n AS HUGEINT) * e.cents - st.sx) *
        |      (CAST(st.n AS HUGEINT) * e.cents - st.sx) >
        |    9 * (CAST(st.n AS HUGEINT) * st.sxx -
        |      CAST(st.sx AS HUGEINT) * st.sx) AS is_outlier
        |  FROM e JOIN st USING (event_type)),
        |outs AS (SELECT event_type,
        |    CAST(count(CASE WHEN is_outlier THEN 1 END) AS BIGINT)
        |      AS n_outliers,
        |    min(CASE WHEN is_outlier THEN cents END) AS min_outlier_cents,
        |    max(CASE WHEN is_outlier THEN cents END) AS max_outlier_cents,
        |    CAST(coalesce(sum(CASE WHEN is_outlier THEN event_id END), 0)
        |      AS BIGINT) AS outlier_id_checksum
        |  FROM fl GROUP BY event_type)
        |SELECT st.event_type, st.n AS n_events, st.sx AS sum_cents,
        |  (1000 * st.sx) // st.n AS mean_cents_x1000,
        |  outs.n_outliers, (1000 * outs.n_outliers) // st.n AS outlier_pm,
        |  outs.min_outlier_cents, outs.max_outlier_cents,
        |  outs.outlier_id_checksum
        |FROM st JOIN outs USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // attribution models: naive window join, then struct argmin/argmax
    // per purchase (field order (m, id) IS the comparison order)
    "q171_attribution_models" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 60000000 AS m FROM events),
        |c AS (SELECT event_id, user_id, m FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, m - 480 AS w_start,
        |    m AS w_end FROM e WHERE event_type = 'purchase'),
        |pairs AS (SELECT p.user_id, p.purchase_id, c.event_id AS click_id,
        |    c.m FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.w_start <= c.m AND c.m <= p.w_end)
        |SELECT user_id, purchase_id, CAST(count(*) AS BIGINT) AS n_touches,
        |  struct_extract(min({'m': m, 'id': click_id}), 'id')
        |    AS first_touch_id,
        |  struct_extract(max({'m': m, 'id': click_id}), 'id')
        |    AS last_touch_id
        |FROM pairs GROUP BY user_id, purchase_id
        |ORDER BY purchase_id""".stripMargin,

    // GDPR erasure: the oracle aggregates SURVIVING events directly —
    // hash-match proves subtract-partials maintenance is exact
    "q170_gdpr_erase_rollup" ->
      """SELECT date_trunc('hour', ts) AS hr, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE user_id % 17 <> 3
        |GROUP BY hr, event_type ORDER BY hr, event_type""".stripMargin,

    // sequential-pattern support: naive per-user strict-follow theta-join
    // within 30 minutes; the engine runs the banded form
    "q169_seq_pattern_support" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 60000000 AS m FROM events)
        |SELECT a.event_type AS a_type, b.event_type AS b_type,
        |  CAST(count(*) AS BIGINT) AS support,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.m > a.m AND b.m <= a.m + 30
        |GROUP BY a_type, b_type ORDER BY a_type, b_type""".stripMargin,

    // transition dwell: lead-gap µs per consecutive pair, BIGINT stats
    // per (from, to), one pinned mean division
    "q256_transition_dwell" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |p AS (SELECT *, lead(event_type) OVER w AS next_type,
        |    lead(us) OVER w - us AS dwell_us
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY us, event_id))
        |SELECT event_type AS from_type, next_type AS to_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(dwell_us) AS BIGINT) AS sum_us,
        |  CAST(min(dwell_us) AS BIGINT) AS min_us,
        |  CAST(max(dwell_us) AS BIGINT) AS max_us,
        |  CAST(sum(CASE WHEN dwell_us < 60000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_sub_minute,
        |  CAST(CAST(sum(dwell_us) AS BIGINT) AS DOUBLE)
        |    / (1000000.0 * CAST(count(*) AS DOUBLE)) AS mean_dwell_sec
        |FROM p WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // MATCH_RECOGNIZE V N* P: running last-view / last-error positions
    // over the strictly-preceding ROWS frame, purchase matches iff the
    // last view outranks the last error (q145's window-state move)
    "q246_seq_match_recognize" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts)
        |    AS us FROM events),
        |p AS (SELECT event_id, user_id, event_type, us,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS BIGINT) AS pos
        |  FROM e),
        |s AS (SELECT *,
        |    max(CASE WHEN event_type = 'view' THEN pos END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv,
        |    max(CASE WHEN event_type = 'error' THEN pos END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS le
        |  FROM p)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purchases,
        |  CAST(sum(CASE WHEN event_type = 'purchase' AND lv IS NOT NULL
        |    AND lv > coalesce(le, -1) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clean_conversions,
        |  CAST(coalesce(min(CASE WHEN event_type = 'purchase'
        |    AND lv IS NOT NULL AND lv > coalesce(le, -1) THEN pos END),
        |    -1) AS BIGINT) AS first_match_pos
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,

    // quantified MATCH_RECOGNIZE V C+ P: the same gaps-and-islands mirror
    // (maximal click runs, boundary rows probed at a-1 / b+1)
    "q260_seq_match_quantified" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts)
        |    AS us FROM events),
        |p AS (SELECT event_id, user_id, event_type, us,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS BIGINT) AS pos
        |  FROM e),
        |c AS (SELECT user_id, pos,
        |    pos - row_number() OVER (PARTITION BY user_id ORDER BY pos)
        |      AS isl
        |  FROM p WHERE event_type = 'click'),
        |runs AS (SELECT user_id, isl, min(pos) AS a, max(pos) AS b,
        |    CAST(count(*) AS BIGINT) AS len
        |  FROM c GROUP BY user_id, isl),
        |m AS (SELECT r.user_id, r.a - 1 AS vstart, r.len
        |  FROM runs r
        |  JOIN p pv ON pv.user_id = r.user_id AND pv.pos = r.a - 1
        |    AND pv.event_type = 'view'
        |  JOIN p nx ON nx.user_id = r.user_id AND nx.pos = r.b + 1
        |    AND nx.event_type = 'purchase'),
        |agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_matches,
        |    CAST(sum(len) AS BIGINT) AS n_clicks_consumed,
        |    CAST(min(vstart) AS BIGINT) AS first_match_start,
        |    CAST(max(len) AS BIGINT) AS max_run_len
        |  FROM m GROUP BY user_id),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id,
        |  coalesce(agg.n_matches, 0) AS n_matches,
        |  coalesce(agg.n_clicks_consumed, 0) AS n_clicks_consumed,
        |  coalesce(agg.first_match_start, -1) AS first_match_start,
        |  coalesce(agg.max_run_len, 0) AS max_run_len
        |FROM u LEFT JOIN agg ON agg.user_id = u.user_id
        |ORDER BY u.user_id""".stripMargin,

    // V-shape pattern (STRT DOWN+ UP+, predicate-defined symbols): lag
    // direction classes, same-direction islands, adjacent (down, up)
    // run pairs; window sums CAST back from HUGEINT (the q91 gotcha)
    "q261_seq_match_vshape" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |p AS (SELECT *, CAST(row_number() OVER w AS BIGINT) AS pos,
        |    lag(cents) OVER w AS prev_cents
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |d AS (SELECT *, CASE WHEN prev_cents IS NULL THEN 'X'
        |      WHEN cents < prev_cents THEN 'D'
        |      WHEN cents > prev_cents THEN 'U' ELSE 'F' END AS dir
        |  FROM p),
        |f AS (SELECT *, pos - row_number() OVER (
        |    PARTITION BY user_id, dir ORDER BY pos) AS isl
        |  FROM d WHERE dir IN ('D', 'U')),
        |runs AS (SELECT user_id, dir, isl, min(pos) AS a, max(pos) AS b,
        |    CAST(count(*) AS BIGINT) AS len,
        |    min_by(prev_cents, pos) AS from_cents,
        |    max_by(cents, pos) AS to_cents
        |  FROM f GROUP BY user_id, dir, isl),
        |m AS (SELECT dn.user_id, dn.len AS down_len,
        |    dn.from_cents - dn.to_cents AS drop_cents
        |  FROM runs dn JOIN runs up_ ON up_.user_id = dn.user_id
        |    AND dn.dir = 'D' AND up_.dir = 'U' AND up_.a = dn.b + 1),
        |agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_vshapes,
        |    CAST(sum(drop_cents) AS BIGINT) AS total_drop_cents,
        |    CAST(max(drop_cents) AS BIGINT) AS max_drop_cents,
        |    CAST(max(down_len) AS BIGINT) AS max_down_len
        |  FROM m GROUP BY user_id),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id, coalesce(agg.n_vshapes, 0) AS n_vshapes,
        |  coalesce(agg.total_drop_cents, 0) AS total_drop_cents,
        |  coalesce(agg.max_drop_cents, -1) AS max_drop_cents,
        |  coalesce(agg.max_down_len, 0) AS max_down_len
        |FROM u LEFT JOIN agg ON agg.user_id = u.user_id
        |ORDER BY u.user_id""".stripMargin,

    // attribution lookup: naive per-user theta-join over epoch-minute
    // lookback windows (the engine runs the banded point-in-interval form)
    "q159_join_point_in_window" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 60000000 AS m FROM events),
        |c AS (SELECT event_id, user_id, m FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, m - 480 AS w_start,
        |    m AS w_end FROM e WHERE event_type = 'purchase')
        |SELECT p.user_id, c.event_id AS click_id, p.purchase_id,
        |  p.w_end - c.m AS lag_min
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.w_start <= c.m AND c.m <= p.w_end
        |ORDER BY click_id, purchase_id""".stripMargin,

    // PIT features: struct max over the strictly-preceding ROWS frame
    // (us, event_id, value — field order IS the comparison order in both
    // engines), struct_extract for the feature pulls, window sum CAST
    // back from HUGEINT (the q91 rule)
    "q145_feature_pit_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |    event_type, value FROM events),
        |w AS (SELECT *,
        |    max(CASE WHEN event_type = 'view'
        |        THEN {'us': us, 'eid': event_id, 'val': value} END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv,
        |    max(CASE WHEN event_type = 'click'
        |        THEN {'us': us, 'eid': event_id, 'val': value} END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc,
        |    CAST(COALESCE(sum(CASE WHEN event_type = 'click' THEN 1
        |        ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS f_clicks_before
        |  FROM e)
        |SELECT event_id, user_id, us, value AS label,
        |  struct_extract(lv, 'val') AS f_view_value,
        |  us - struct_extract(lv, 'us') AS f_view_age_us,
        |  struct_extract(lc, 'val') AS f_click_value,
        |  f_clicks_before
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    // bounded funnel: the q121 stage chain with 24 h deadlines, rolled
    // up per first-view day; counts BIGINT, rates one division each
    "q141_funnel_windowed" ->
      """WITH e AS (SELECT user_id, event_type, ts FROM events),
        |v AS (SELECT user_id, min(ts) AS t_view FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |  FROM e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 24 HOURS
        |  GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 24 HOURS
        |  GROUP BY e.user_id)
        |SELECT date_trunc('day', v.t_view) AS view_day,
        |  CAST(count(*) AS BIGINT) AS n_view,
        |  CAST(count(c.t_click) AS BIGINT) AS n_click_24h,
        |  CAST(count(p.t_purchase) AS BIGINT) AS n_purchase_24h,
        |  CAST(count(c.t_click) AS DOUBLE) / count(*) AS click_rate,
        |  CAST(count(p.t_purchase) AS DOUBLE) / count(*) AS purchase_rate
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |GROUP BY view_day ORDER BY view_day""".stripMargin,

    // the incremental merge must EQUAL the direct full-history rollup —
    // so the oracle is the q29 shape itself (sum CAST back from the
    // widened decimal; n CAST from HUGEINT)
    "q124_rollup_incremental" ->
      s"""SELECT date_trunc('hour', ts) AS hr, event_type,
         |  CAST(count(*) AS BIGINT) AS n,
         |  ${sqlDsum("value")} AS total_value
         |FROM events GROUP BY hr, event_type
         |ORDER BY hr, event_type""".stripMargin,

    // transition matrix: same (ts, event_id) total order in the lead
    // window; sums CAST back from HUGEINT; one division for p
    "q123_event_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |tr AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS total
        |  FROM tr GROUP BY from_type)
        |SELECT tr.from_type, tr.to_type, tr.n,
        |  CAST(tr.n AS DOUBLE) / tot.total AS p
        |FROM tr JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // ordered funnel: each stage's min-ts is conditioned on strictly
    // following the previous stage; left joins keep partial funnels
    "q121_funnel_stages" ->
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |  GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |  GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  c.t_click IS NOT NULL AS reached_click,
        |  p.t_purchase IS NOT NULL AS reached_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,

    // weekly cohorts: ISO Monday weeks in both engines; week_offset is
    // exact integer day-diff // 7; one double division for the ratio
    "q122_cohort_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w
        |  FROM events),
        |ch AS (SELECT user_id, min(w) AS cohort_w FROM e GROUP BY user_id),
        |sz AS (SELECT cohort_w, CAST(count(*) AS BIGINT) AS cohort_n
        |  FROM ch GROUP BY cohort_w),
        |a AS (SELECT ch.cohort_w, e.w, CAST(count(*) AS BIGINT) AS active_n
        |  FROM e JOIN ch USING (user_id) GROUP BY ch.cohort_w, e.w)
        |SELECT a.cohort_w,
        |  CAST(datediff('day', a.cohort_w, a.w) // 7 AS BIGINT) AS week_offset,
        |  a.active_n, sz.cohort_n,
        |  CAST(a.active_n AS DOUBLE) / sz.cohort_n AS retention
        |FROM a JOIN sz USING (cohort_w)
        |ORDER BY cohort_w, week_offset""".stripMargin,

    // LOCF: last_value IGNORE NULLS over the same spine (DuckDB's window
    // frame defaults differ — spelled out ROWS UNBOUNDED PRECEDING)
    "q120_resample_locf" ->
      s"""WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h, value
         |  FROM events),
         |a AS (SELECT event_type, h, ${sqlDavg("value")} AS mean_value
         |  FROM e GROUP BY event_type, h),
         |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
         |sp AS (SELECT event_type,
         |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         |  FROM (SELECT DISTINCT event_type FROM e), b)
         |SELECT sp.event_type, sp.h, a.mean_value,
         |  last_value(a.mean_value IGNORE NULLS) OVER (
         |    PARTITION BY sp.event_type ORDER BY sp.h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
         |FROM sp LEFT JOIN a ON sp.event_type = a.event_type AND sp.h = a.h
         |ORDER BY sp.event_type, sp.h""".stripMargin,

    // hourly spine = types × generate_series over the global bounds; gaps
    // fill with explicit zeros, `filled` marks fabricated buckets
    "q119_resample_gap_fill" ->
      s"""WITH e AS (SELECT event_type, date_trunc('hour', ts) AS h, value
         |  FROM events),
         |a AS (SELECT event_type, h, CAST(count(*) AS BIGINT) AS n,
         |    ${sqlDsum("value")} AS total_value
         |  FROM e GROUP BY event_type, h),
         |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
         |sp AS (SELECT event_type,
         |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         |  FROM (SELECT DISTINCT event_type FROM e), b)
         |SELECT sp.event_type, sp.h, COALESCE(a.n, 0) AS n,
         |  COALESCE(a.total_value, 0.0) AS total_value,
         |  a.n IS NULL AS filled
         |FROM sp LEFT JOIN a ON sp.event_type = a.event_type AND sp.h = a.h
         |ORDER BY sp.event_type, sp.h""".stripMargin,

    // EWMA: ordered list aggregation + list_reduce fold seeded with 0.0
    // via list_prepend (the q47 move); halving is exact in both engines
    "q180_ewma_decay" ->
      """WITH u AS (SELECT user_id,
        |    list(value ORDER BY ts, event_id) AS vs
        |  FROM events WHERE value IS NOT NULL GROUP BY user_id)
        |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
        |    (acc, v) -> (acc + v) / 2) AS ewma,
        |  vs[-1] AS last_value
        |FROM u ORDER BY user_id""".stripMargin,

    "q29_stream_tumbling" ->
      s"""SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n,
         |  ${sqlDsum("value")} AS total_value
         |FROM events GROUP BY hr, event_type ORDER BY hr, event_type""".stripMargin,

    "q30_stream_sliding" ->
      s"""SELECT TIMESTAMP '1970-01-01 00:00:00' + (b - g.i) * 900 * INTERVAL 1 SECOND AS win_start,
         |  event_type, count(*) AS n, ${sqlDsum("value")} AS total_value
         |FROM (SELECT epoch_us(ts) // 900000000 AS b, event_type, value FROM events),
         |     generate_series(0, 3) g(i)
         |GROUP BY win_start, event_type ORDER BY win_start, event_type""".stripMargin,

    "q31_stream_session" ->
      """SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS sess_start, max(ts) AS sess_end
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts, us,
        |      CASE WHEN us - lag(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |    FROM (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events)))
        |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q32_stream_dedup" ->
      """SELECT user_id, event_type, minute, event_id FROM (
        |  SELECT user_id, event_type, date_trunc('minute', ts) AS minute, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type, date_trunc('minute', ts) ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type, minute""".stripMargin,
  )
}
