package graft.operators

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY §2B batch relational surface: scans, projection/filter, all join
  * shapes, aggregation, window functions, sort/limit/top-k, set operations and
  * the scalar-function families (Q01–Q28). Every query here is declarative
  * DataFrame API — Catalyst does pushdown/pruning/join-selection; dimension
  * tables are explicitly `broadcast()` where a 100 TB fact side must not
  * shuffle them.
  *
  * Determinism contract with the DuckDB oracle (driver-verified):
  *  - results fully ordered on a unique key set, with explicit null ordering;
  *  - double sums go through exact DECIMAL (see [[graft.operators.dsum]]);
  *  - int-ish computed columns cast to BIGINT on both sides.
  */
object RelationalQueries extends QueryGroup {

  // ---- scans & projection -------------------------------------------------

  /** Q01: parquet scan + projection + stable order. Column pruning must reach
    * the scan (ReadSchema shows 4 cols only). */
  private val q01: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** Q02: JSON string field extraction (events.props). */
  private val q02: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))
      .orderBy("event_id")

  /** Q03: expressions — arithmetic chain, aliasing, CASE WHEN. */
  private val q03: Q = (s, d) =>
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice") * (lit(1) - col("l_discount")) *
        (lit(1) + col("l_tax"))).as("net"),
      when(col("l_discount") > 0.05, "HIGH").otherwise("LOW").as("disc_class"))
    .orderBy("l_orderkey", "l_linenumber")

  /** Q04: predicate zoo — AND/OR/NOT, IN, BETWEEN on timestamps, IS NOT NULL.
    * All of it must be pushed to the parquet scan (PushedFilters). */
  private val q04: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate").between("1996-01-01", "1996-12-31 23:59:59") &&
        col("l_quantity").isin(1, 2, 3, 4, 5, 10, 20, 30, 40, 50) &&
        (col("l_discount").between(0.02, 0.08) || col("l_tax") < 0.03) &&
        !(col("l_returnflag") === "A") &&
        col("l_suppkey").isNotNull)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
      .orderBy("l_orderkey", "l_linenumber")

  /** Q04b: LIKE family on part. */
  private val q04b: Q = (s, d) =>
    Tables.part(s, d)
      .filter((col("p_name").like("%ring%") || col("p_type").like("PROM%")) &&
        col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50))
      .select("p_partkey", "p_name", "p_type", "p_size")
      .orderBy("p_partkey")

  // ---- joins --------------------------------------------------------------

  /** Q05: inner equi-join + group agg; customer is the broadcast side (a dim
    * of ~1% the fact rows — at 100 TB never shuffle the fact to co-locate). */
  private val q05: Q = (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("c_mktsegment")

  /** Q06: multi-way join (TPC-H Q5 shape): the one big fact⋈fact shuffle join
    * (lineitem⋈orders) plus broadcast dims for everything else. */
  private val q06: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
        .as("revenue"))
      .orderBy(col("revenue").desc_nulls_last, col("n_name"))
  }

  /** Q07: left outer join — customers with zero orders kept (count=0). */
  private val q07: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_price"))
      .orderBy("c_custkey")

  /** Q08: left semi (EXISTS). */
  private val q08: Q = (s, d) =>
    Tables.part(s, d)
      .join(Tables.lineitem(s, d), col("p_partkey") === col("l_partkey"),
        "left_semi")
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")

  /** Q09: left anti (NOT EXISTS). */
  private val q09: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** Q10: cross join (tiny × tiny only — anything else is a bug at scale). */
  private val q10: Q = (s, d) =>
    Tables.region(s, d).crossJoin(Tables.nation(s, d))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")

  /** Q11: range join (events within 5 min per user), written as the NAIVE
    * declarative theta-join — graft's [[graft.plans.BandJoinRewrite]]
    * optimizer rule rewrites it into an equi-join on (user, 5-min bucket)
    * with the anchor side exploded to two adjacent buckets: O(n) shuffle
    * instead of a per-user BNLJ factor, which is the only shape that
    * survives 100 TB (plan asserted in BandJoinRewriteSpec). The oracle is
    * the same naive theta-join.
    */
  private val q11: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), epochUs(col("ts")).as("us"))
    val width = 300000000L // 5 minutes in µs
    val a = e.select(col("event_id").as("a_id"), col("user_id"),
      col("us").as("a_us"))
    val b = e.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
      col("us").as("b_us"))
    a.join(b, col("user_id") === col("b_user") &&
        col("b_us") > col("a_us") && col("b_us") <= col("a_us") + width)
      .select(col("a_id"), col("b_id"), col("user_id"),
        (col("b_us") - col("a_us")).as("gap_us"))
      .orderBy("a_id", "b_id")
  }

  /** Q12: as-of join — for each click, the latest purchase by the same user at
    * ts ≤ click.ts. Implemented as a single-pass window (RANGE frame over the
    * event-time axis) instead of a join: one shuffle on user_id, no pair
    * explosion. Oracle: DuckDB's native ASOF LEFT JOIN.
    */
  private val q12: Q = (s, d) => {
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        epochUs(col("ts")).as("us"),
        when(col("event_type") === "purchase", col("ts")).as("pts"))
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_purchase_ts", max(col("pts")).over(w))
      .filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "last_purchase_ts")
      .orderBy("event_id")
  }

  // ---- aggregation --------------------------------------------------------

  /** Q13: TPC-H Q1 shape — partial+final hash agg, exact decimal sums. */
  private val q13: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= "2001-09-02")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax")), 6).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Q14: distinct aggregates. */
  private val q14: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        sum_distinct(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_distinct_qty"))
      .orderBy("l_returnflag")

  /** Q15: rollup + grouping_id over a 3-way join. */
  private val q15: Q = (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select("n_name", "o_orderpriority")
      .rollup(col("n_name"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("n_name").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Q15b: cube. */
  private val q15b: Q = (s, d) =>
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Q15c: explicit GROUPING SETS — an irregular set neither rollup nor cube
    * expresses ((status, priority), (priority), ()); one pass, expand+agg. */
  private val q15c: Q = (s, d) =>
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Q16: global (grand) aggregate, no keys. */
  private val q16: Q = (s, d) =>
    Tables.lineitem(s, d)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        dsum(col("l_quantity")).as("total_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))

  // ---- window functions ---------------------------------------------------

  /** Q17: ranking family. row_number/ntile run over a unique ordering;
    * rank/dense_rank/percent_rank run over the tie-producing o_orderdate
    * ordering (so ties are exercised but results stay deterministic). */
  private val q17: Q = (s, d) => {
    val unique = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val tied   = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      row_number().over(unique).cast("long").as("rn"),
      rank().over(tied).cast("long").as("rnk"),
      dense_rank().over(tied).cast("long").as("drnk"),
      ntile(4).over(unique).cast("long").as("nt"),
      percent_rank().over(tied).as("pr"))
    .orderBy("o_custkey", "o_orderkey")
  }

  /** Q18: analytic functions + frames: lag/lead, running total (rows frame),
    * sliding mean (rows frame), count over a numeric RANGE frame. */
  private val q18: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sliding = w.rowsBetween(-2, 0)
    val byDays = Window.partitionBy("o_custkey").orderBy("days")
      .rangeBetween(-30, 0)
    Tables.orders(s, d)
      .withColumn("days",
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01")))
      .select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(running)
          .cast("double").as("run_total"),
        (sum(col("o_totalprice").cast("decimal(18,2)")).over(sliding)
          .cast("double") / count(lit(1)).over(sliding)).as("slide_avg3"),
        count(lit(1)).over(byDays).as("cnt_30d"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Q59: value-positional window functions — first/last/nth over an
    * explicit frame, cume_dist over the tie-capable ordering. */
  /** Q65: time-interval RANGE frame — per user, count and exact sum of
    * `value` over the trailing hour of EVENT TIME. A value-based frame (all
    * rows whose timestamp falls in the interval, ties included) — the
    * windowing mode row-based frames (q18) can't express. Computed on epoch
    * µs so the frame bound is an exact integer; the oracle uses the
    * equivalent INTERVAL frame on the timestamp itself. */
  private val q65: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
        epochUs(col("ts")).as("us"))
      .select(col("event_id"),
        count(lit(1)).over(w).cast("long").as("n_1h"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("sum_1h"))
      .orderBy("event_id")
  }

  private val q59: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tied = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      first(col("o_totalprice")).over(full).as("first_price"),
      last(col("o_totalprice")).over(full).as("last_price"),
      nth_value(col("o_totalprice"), 2).over(full).as("second_price"),
      cume_dist().over(tied).as("cd"))
    .orderBy("o_custkey", "o_orderkey")
  }

  /** Q61: ordered string aggregation (listagg shape) — deterministic via
    * sorted distinct sets on both engines. */
  private val q61: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(concat_ws(",", array_sort(collect_set(col("l_linestatus"))))
        .as("statuses"),
        concat_ws("|",
          array_sort(collect_set(floor(col("l_quantity")).cast("int").cast("string"))))
          .as("qty_values"))
      .orderBy("l_returnflag")

  // ---- sort / limit / top-k ----------------------------------------------

  /** Q19: global top-k with unique tie-break → TakeOrderedAndProject (no full
    * sort of 100 TB; each partition keeps k rows, driver merges). */
  private val q19: Q = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice", "o_orderdate")
      .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderkey"))
      .limit(100)

  /** Q20: top-3 per group via row_number — single shuffle on the group key. */
  private val q20: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  /** Q55: full outer join — unmatched rows survive on BOTH sides (filters
    * chosen so each side has them). */
  private val q55: Q = (s, d) => {
    val c = Tables.customer(s, d).filter(col("c_acctbal") < 0)
      .select("c_custkey", "c_name")
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    c.join(o, col("c_custkey") === col("o_custkey"), "full")
      .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
      .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
  }

  /** Q55b: right outer join — every part kept, zero-lineitem parts included. */
  private val q55b: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"), "right")
      .groupBy("p_partkey")
      .agg(count(col("l_orderkey")).as("n_items"))
      .orderBy("p_partkey")

  // ---- set operations -----------------------------------------------------

  /** Q21: UNION ALL + group count. */
  private val q21: Q = (s, d) =>
    Tables.lineitem(s, d).select(col("l_partkey").as("key"))
      .unionAll(Tables.part(s, d).select(col("p_partkey").as("key")))
      .groupBy("key").agg(count(lit(1)).as("n"))
      .orderBy("key")

  /** Q22b: INTERSECT ALL / EXCEPT ALL (multiset semantics — duplicates
    * preserved per bag algebra). */
  private val q22b: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_suppkey").as("key"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey").as("key"))
    li.intersectAll(sup).agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), col("n"))
      .unionAll(
        li.exceptAll(sup).agg(count(lit(1)).as("n"))
          .select(lit("except_all").as("op"), col("n")))
      .orderBy("op")
  }

  /** Q22: INTERSECT / EXCEPT (distinct set semantics). */
  private val q22: Q = (s, d) => {
    val c = Tables.customer(s, d).select(col("c_custkey").as("key"))
    val o = Tables.orders(s, d).select(col("o_custkey").as("key"))
    c.intersect(o).agg(count(lit(1)).as("n")).select(lit("intersect").as("op"), col("n"))
      .unionAll(
        c.except(o).agg(count(lit(1)).as("n")).select(lit("except").as("op"), col("n")))
      .orderBy("op")
  }

  // ---- scalar function families ------------------------------------------

  /** Q23: string functions. */
  private val q23: Q = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_name")).as("up_name"),
      lower(col("p_brand")).as("lo_brand"),
      substring(col("p_name"), 1, 5).as("sub5"),
      length(col("p_name")).cast("long").as("name_len"),
      concat_ws("|", col("p_brand"), col("p_type")).as("cat"),
      regexp_replace(col("p_type"), "[AEIOU]", "*").as("devowel"),
      trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"),
      lpad(col("p_partkey").cast("string"), 8, "0").as("pad8"),
      split_part(col("p_name"), lit(" "), lit(1)).as("first_word"),
      regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
      instr(col("p_name"), "r").cast("long").as("r_pos"),
      replace(col("p_type"), lit("O"), lit("0")).as("repl"))
    .orderBy("p_partkey")

  /** Q24: date/time functions. */
  private val q24: Q = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("y"),
      month(col("o_orderdate")).cast("long").as("mo"),
      dayofmonth(col("o_orderdate")).cast("long").as("dom"),
      date_trunc("month", col("o_orderdate")).as("mon_start"),
      date_add(col("o_orderdate").cast("date"), 30).cast("timestamp_ntz").as("plus30"),
      datediff(col("o_orderdate").cast("date"), lit("1995-01-01"))
        .cast("long").as("days_since"),
      last_day(col("o_orderdate")).cast("timestamp_ntz").as("eom"),
      dayofweek(col("o_orderdate")).cast("long").as("dow"),
      unix_millis(col("o_orderdate").cast("timestamp")).as("ems"))
    .orderBy("o_orderkey")

  /** Q25: math functions (all per-row IEEE ops → cross-engine identical). */
  private val q25: Q = (s, d) =>
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      round(sqrt(col("l_extendedprice")), 3).as("r2"),
      abs(col("l_discount") - 0.05).as("ad"),
      ceil(col("l_extendedprice")).cast("long").as("ce"),
      floor(col("l_extendedprice")).cast("long").as("fl"),
      pow(col("l_quantity"), 2.0).as("p2"),
      sqrt(col("l_extendedprice")).as("sq"),
      log(col("l_extendedprice")).as("lg"),
      exp(col("l_discount")).as("ex"),
      (col("l_linenumber") % 3).cast("long").as("m3"),
      signum(col("l_quantity") - 25.0).cast("double").as("sg"),
      greatest(col("l_tax"), col("l_discount")).as("gt"),
      least(col("l_tax"), col("l_discount")).as("lt"))
    .orderBy("l_orderkey", "l_linenumber")

  /** Q26: array/higher-order functions over embeddings. Folds are strictly
    * sequential in both engines, with per-element float→double casts, so
    * results are bit-identical (see oracle SQL). */
  private val q26: Q = (s, d) =>
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("dim"),
      element_at(col("embedding"), 1).cast("double").as("first_elem"),
      expr("aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE))")
        .as("sum_all"),
      expr("sqrt(aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
        .as("l2_norm"),
      expr("CAST(size(filter(embedding, x -> x > 0)) AS BIGINT)").as("n_pos"),
      element_at(array_sort(col("embedding")), 3).cast("double").as("third_smallest"),
      expr("aggregate(zip_with(embedding, reverse(embedding), (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, x) -> a + x)")
        .as("rev_dot"),
      expr("aggregate(slice(embedding, 5, 10), CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE))")
        .as("slice_sum"))
    .orderBy("vec_id")

  /** Q27: map-from-JSON + explode of key/value pairs. */
  private val q27: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        explode(from_json(col("props"), lit("map<string,bigint>")))
          .as(Seq("prop_key", "prop_val")))
      .orderBy("event_id", "prop_key")

  /** Q27b: posexplode over the first 5 tokens of each document. */
  private val q27b: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(slice(split(col("text"), " "), 1, 5)).as(Seq("pos0", "token")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("token"))
      .orderBy("doc_id", "pos")

  /** Q28: conditional / null handling: coalesce, nullif, NaN propagation. */
  private val q28: Q = (s, d) =>
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("rf"),
      (col("l_quantity") / nullif(col("l_discount"), lit(0.0))).as("ratio"),
      coalesce(col("l_quantity") / nullif(col("l_discount"), lit(0.0)), lit(-1.0))
        .as("ratio_nvl"),
      isnan(when(col("l_discount") === 0, expr("CAST('NaN' AS DOUBLE)"))
        .otherwise(col("l_discount"))).as("nan_flag"))
    .orderBy("l_orderkey", "l_linenumber")

  /** Q56: string-distance functions (levenshtein). */
  private val q56: Q = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      levenshtein(col("p_name"), lit("small ring")).cast("long").as("lev"),
      levenshtein(col("p_brand"), col("p_type")).cast("long").as("lev_bt"))
    .orderBy("p_partkey")

  /** Q57: union by NAME — columns matched by name, not position. */
  private val q57: Q = (s, d) => {
    val a = Tables.orders(s, d)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("amount"))
    val b = Tables.lineitem(s, d)
      .select(col("l_extendedprice").as("amount"), col("l_orderkey").as("key"))
    a.unionByName(b)
      .groupBy("key").agg(count(lit(1)).as("n"), dsum(col("amount")).as("total"))
      .orderBy("key")
  }

  /** Q62: subquery machinery via the SQL surface — scalar subquery (global
    * average) and IN-subquery (big-spender customers); Catalyst rewrites
    * both to joins. Also exercises `spark.sql` over registered views. */
  private val q62: Q = (s, d) => {
    graft.Tables.registerAll(s, d)
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |    SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Q86: correlated LATERAL join — "top-2 orders per customer" as a
    * per-row dependent subquery (ISO/ANSI LATERAL, Spark ≥ 3.2). Catalyst
    * rewrites the correlated limit into a ranked window join, so the plan
    * stays set-based (no nested-loop per customer); DuckDB executes its
    * own LATERAL natively — the cross-engine hash match pins the
    * dependent-join semantics, null-free by construction. */
  private val q86: Q = (s, d) => {
    graft.Tables.registerAll(s, d)
    s.sql(
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c_custkey, o_orderkey""".stripMargin)
  }

  // -------------------------------------------------------------------------

  /** Q88: recursive CTE (Spark ≥ 4.0 `WITH RECURSIVE`) — a calendar
    * date-spine gap-fill, the canonical recursion every reporting pipeline
    * needs: generate every day of a window, left-join the fact table, and
    * days with zero orders SURFACE as 0 instead of silently missing.
    * DuckDB runs its own recursive CTE; the hash match pins fixpoint
    * semantics + date arithmetic cross-engine. Scale shape: the fact side
    * is collapsed FIRST by a partial-aggregated per-date groupBy (the only
    * thing that touches 100 TB), then the driver-sized spine left-joins
    * the ~per-day aggregate rows — no date-keyed shuffle of raw fact rows,
    * no per-day skew. */
  private val q88: Q = (s, d) => {
    graft.Tables.registerAll(s, d)
    s.sql(
      """WITH RECURSIVE days(d) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL SELECT date_add(d, 1) FROM days WHERE d < DATE '1995-03-01'),
        |agg AS (SELECT CAST(o_orderdate AS DATE) AS od, count(o_orderkey) AS n
        |        FROM orders GROUP BY 1)
        |SELECT CAST(d AS TIMESTAMP_NTZ) AS d,
        |  COALESCE(n, CAST(0 AS BIGINT)) AS n_orders
        |FROM days LEFT JOIN agg ON agg.od = days.d
        |ORDER BY d""".stripMargin)
  }

  /** Q168: FORWARD as-of join — q12's mirror image ("the next purchase
    * at or after each click", per user): the time-to-conversion /
    * next-maintenance-window enrichment. Same single-pass window trick,
    * frame reversed (min over current..unboundedFollowing); no future
    * purchase → NULLs, and the exact integer µs wait rides along. The
    * oracle is DuckDB's native ASOF LEFT JOIN with the ≥ inequality —
    * the two engines' entirely different physical strategies (range-
    * frame window vs ASOF merge) must agree row-for-row. */
  private val q168: Q = (s, d) => {
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        epochUs(col("ts")).as("us"),
        when(col("event_type") === "purchase", col("ts")).as("pts"))
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(Window.currentRow, Window.unboundedFollowing)
    e.withColumn("next_purchase_ts", min(col("pts")).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("next_purchase_ts"),
        (epochUs(col("next_purchase_ts")) - col("us")).as("wait_us"))
      .orderBy("event_id")
  }

  /** Q125: SCD2 versioned upsert over the customer dimension —
    * [[ScdMerge.apply2]] with a deterministic update batch: every key
    * ≡ 0 (mod 10) changes segment + balance (versioned: old row closes at
    * the effective date, new row opens), every key ≡ 5 (mod 10) arrives
    * as a NO-OP update (identical attributes — must create no version,
    * the replayed-feed invariant), everyone else is untouched. The oracle
    * reconstructs the exact post-merge table with CASE arithmetic —
    * dimension history as plain relational algebra. */
  private val q125: Q = (s, d) => {
    val cur = Tables.customer(s, d).select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("valid_from", lit("2024-01-01"))
      .withColumn("valid_to", lit(null).cast("string"))
      .withColumn("is_current", lit(true))
    val upd = Tables.customer(s, d)
      .filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        when(col("c_custkey") % 10 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
    ScdMerge.apply2(cur, upd, "c_custkey",
        Seq("c_mktsegment", "c_acctbal"), lit("2024-06-01"))
      .orderBy("c_custkey", "valid_from")
  }

  /** Q130: CDC latest-wins merge over the customer snapshot —
    * [[CdcMerge.apply]] with a change feed derived from orders: each
    * order is a change event for its customer (seq = the unique order
    * key), every 10th order a DELETE, every 7th targeting a brand-new
    * key (the insert path), the rest full-row upserts. Per-key highest
    * seq wins; the oracle replays the identical resolution with a window.
    * Exercises all four MERGE paths at once: update, delete, insert, and
    * delete-of-missing-key no-op. */
  private val q130: Q = (s, d) => {
    val cust = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    val ch = Tables.orders(s, d).select(
      when(col("o_orderkey") % 7 === 0, col("o_custkey") + 10000000L)
        .otherwise(col("o_custkey")).as("c_custkey"),
      concat(lit("cdc#"), col("o_orderkey").cast("string")).as("c_name"),
      col("o_totalprice").as("c_acctbal"),
      col("o_orderpriority").as("c_mktsegment"),
      col("o_orderkey").as("seq"),
      when(col("o_orderkey") % 10 === 0, lit("D"))
        .otherwise(lit("U")).as("op"))
    CdcMerge.apply(cust, ch, "c_custkey", "seq", "op")
      .orderBy("c_custkey")
  }

  /** Q155: interval-overlap self-join via temporal banding — the segment/
    * session overlap primitive (audio/video segment alignment, in-transit
    * inventory, concurrent-session analytics) that naive SQL expresses as
    * a quadratic theta-join. Intervals are lineitem shipments in transit:
    * [shipdate, shipdate + 1..14 days] (duration derived from the integer
    * line id so both engines agree exactly); pairs of same-supplier
    * shipments whose transit windows overlap are emitted with their exact
    * overlap length in days.
    *
    * Note: the synthetic lineitem is NOT key-unique (q165's audit flags
    * ~23% duplicate (orderkey, linenumber) pairs), so `line_id` carries
    * duplicates; pairs between two rows SHARING an id are excluded by the
    * `a_id < b_id` rule in the banded plan and the oracle's naive join
    * alike, so the contract stays engine-identical.
    *
    * Scale design (the q11 band-join idea specialized to intervals): each
    * interval is exploded to the 16-day bands it touches — band width >
    * max duration bounds the fan-out at 2 rows per interval — and pairs
    * join on (supplier, band) with the exact overlap predicate applied
    * inside the band. The duplicate-elimination rule is positional, not a
    * distinct: a pair is emitted only in the band containing the LATER
    * start (that band is inside both intervals' spans, so each
    * overlapping pair appears exactly once — no post-join dedup shuffle).
    * Shuffle is on (supplier, band): linear in the interval count, never
    * the quadratic pair space the oracle's naive theta-join walks. */
  private val q155: Q = (s, d) => {
    val iv = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_suppkey").cast("long").as("supp"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long")
          .as("line_id"),
        datediff(col("l_shipdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("start_day"))
      .withColumn("end_day", col("start_day") + col("line_id") % 14 + 1)
    IntervalJoin.overlapPairs(iv, "supp", "line_id", "start_day", "end_day",
        maxLen = 14L, bandWidth = 16L)
      .select(col("supp"), col("a_id"), col("b_id"),
        col("overlap").as("overlap_days"))
      .orderBy("a_id", "b_id")
  }

  /** Q165: data-quality audit — the expectation-suite report (the
    * Great-Expectations/dbt-test move) a lake runs before promoting a
    * load: one row per declared rule with checked/failed counts and the
    * verdict. Rules cover the four families a real suite mixes: domain
    * ranges (quantity ∈ [1,50], price > 0, discount ∈ [0,0.1]),
    * completeness (ship date present), key uniqueness
    * ((orderkey, linenumber) count = distinct count), and referential
    * integrity (every lineitem orderkey resolves in orders — LEFT ANTI
    * join, the only rule that is not a single scan).
    *
    * Shape: the five scan rules fold into ONE pass over lineitem
    * (conditional-count aggregation — no per-rule rescans); uniqueness
    * is one count-distinct; the FK rule is an anti join against the
    * broadcast-able key side. Scales as two scans + one join at any
    * fact size. */
  private val q165: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    // NULL must count as FAILED (a NULL quantity does not satisfy a range
    // rule), which is also the oracle's CASE WHEN cond THEN 0 ELSE 1
    // polarity — `when(!cond, 1).otherwise(0)` would invert NULL handling
    // (NULL cond → otherwise → pass) and diverge the moment a
    // regeneration ships a NULL
    def failed(cond: org.apache.spark.sql.Column) =
      sum(when(cond, 0L).otherwise(1L))
    val scanRules = li.agg(
      count(lit(1)).as("n"),
      failed(col("l_quantity") >= 1 && col("l_quantity") <= 50).as("f_qty"),
      failed(col("l_extendedprice") > 0).as("f_price"),
      failed(col("l_discount") >= 0 && col("l_discount") <= 0.1).as("f_disc"),
      failed(col("l_shipdate").isNotNull).as("f_ship"),
      // countDistinct(a, b) drops rows where EITHER key is NULL (it
      // counts only all-non-null tuples), while the oracle's
      // count(DISTINCT (a, b)) counts null-field structs — wrap the keys
      // in a struct, whose distinct semantics treat NULL fields as equal
      // on both engines, so a regeneration shipping NULL keys still
      // matches AND the audit counts the offending rows
      (count(lit(1)) -
        countDistinct(struct(col("l_orderkey"), col("l_linenumber"))))
        .as("f_uniq"))
    val fkFails = li.select(col("l_orderkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("f_fk"))
    val w = scanRules.crossJoin(fkFails)
    def rule(name: String, fCol: String) =
      w.select(lit(name).as("rule"), col("n").cast("long").as("n_checked"),
        col(fCol).cast("long").as("n_failed"),
        (col(fCol) === 0).as("pass"))
    rule("fk_orderkey_resolves", "f_fk")
      .unionByName(rule("key_unique_orderkey_linenumber", "f_uniq"))
      .unionByName(rule("range_discount_0_to_0.1", "f_disc"))
      .unionByName(rule("range_price_positive", "f_price"))
      .unionByName(rule("range_quantity_1_to_50", "f_qty"))
      .unionByName(rule("shipdate_not_null", "f_ship"))
      .orderBy("rule")
  }

  /** Q167: null-aware anti join — the NOT IN three-valued-logic exhibit
    * (q09's LEFT ANTI is NOT EXISTS; `NOT IN (subquery)` differs the
    * moment the subquery can yield NULL, and silently returning zero
    * rows is the classic production SQL trap). Three variants, one count
    * row each, computed in ONE query: (a) NOT IN over a null-free
    * subquery ≡ anti join; (b) the same subquery with a NULL injected —
    * the whole predicate goes UNKNOWN, count MUST be 0; (c) the NOT
    * EXISTS form over the null-poisoned set — unaffected by the NULL,
    * equal to (a). Spark plans (b) as a null-aware anti join
    * (ExistenceJoin/NAAJ); DuckDB implements the identical SQL
    * semantics, so the oracle is the same text. */
  private val q167: Q = (s, d) => {
    graft.Tables.registerAll(s, d)
    s.sql(
      """WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 300000),
        |poison AS (SELECT o_custkey FROM big
        |  UNION ALL SELECT CAST(NULL AS BIGINT)),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM big)),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM poison)),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer cu
        |  WHERE NOT EXISTS (SELECT 1 FROM poison p
        |    WHERE p.o_custkey = cu.c_custkey))
        |SELECT 'not_in_clean' AS variant, n FROM a
        |UNION ALL SELECT 'not_in_null_poisoned', n FROM b
        |UNION ALL SELECT 'not_exists_null_poisoned', n FROM c
        |ORDER BY variant""".stripMargin)
  }

  /** Q247: incremental view maintenance for a JOIN view — the delta
    * algebra that keeps a 100 TB materialized join fresh in O(Δ) instead
    * of O(everything): for inserts ΔO into orders and ΔL into lineitem,
    *
    *   V(O₀∪ΔO, L₀∪ΔL) = V(O₀,L₀) ∪ ΔO⋈L₀ ∪ O₀⋈ΔL ∪ ΔO⋈ΔL
    *
    * [the classic counting/delta rule — Gupta & Mumick, "Maintenance of
    * Materialized Views: Problems, Techniques, and Applications", IEEE DE
    * Bulletin 1995]. The deltas are carved deterministically (ΔO:
    * o_orderkey ≡ 5 mod 13; ΔL: l_orderkey ≡ 3 mod 17), V(O₀,L₀) is a
    * STORED view (a session-memoized parquet the query SCANS — the real
    * incremental access path, not a recompute), the three delta branches
    * join delta-sized inputs against base tables, and the ORACLE is the
    * direct full join + aggregate — the hash match IS the maintenance-
    * correctness equation. Work ∝ |Δ| + |stored view| at any base size,
    * and exact DECIMAL sums make the aggregate layer mergeable the same
    * way (add the delta branches' partial aggregates to the stored
    * rollup, q124/q170's abelian-group maintenance). */
  // V(O₀, L₀) materialized ONCE per (session, dir) as a temp parquet —
  // the STORED view the incremental path reads instead of recomputing;
  // rows are deterministic, so the oracle's full-join recompute still
  // hash-matches.
  private val ivmMemo = new SessionMemo[String]

  private def ivmBaseView(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(ivmMemo(s, d) {
      val o0 = Tables.orders(s, d)
        .filter(!(col("o_orderkey") % 13 === 5))
        .select("o_orderkey", "o_orderdate")
      val l0 = Tables.lineitem(s, d)
        .filter(!(col("l_orderkey") % 17 === 3))
        .select("l_orderkey", "l_quantity")
      val p = TempDirs.scoped("graft-ivm-base")
      o0.join(l0, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderdate"), col("l_quantity"))
        .write.mode("overwrite").parquet(p)
      p
    })

  private val q247: Q = (s, d) => {
    val o = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderdate"),
      (col("o_orderkey") % 13 === 5).as("is_new"))
    val l = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_quantity"),
      (col("l_orderkey") % 17 === 3).as("is_new"))
    val o0 = o.filter(!col("is_new")).drop("is_new")
    val dO = o.filter(col("is_new")).drop("is_new")
    val l0 = l.filter(!col("is_new")).drop("is_new")
    val dL = l.filter(col("is_new")).drop("is_new")
    def j(x: org.apache.spark.sql.DataFrame,
        y: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      x.join(y, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderdate"), col("l_quantity"))
    // the stored view is SCANNED, not recomputed — only the three
    // delta-sized branches join live tables
    Seq(ivmBaseView(s, d), j(dO, l0), j(o0, dL), j(dO, dL))
      .reduce(_ unionByName _)
      .groupBy(date_trunc("month", col("o_orderdate")).as("mon"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("total_qty"))
      .orderBy("mon")
  }

  /** Q258: aggregate IVM under RETRACTIONS — q247 maintains a join view
    * under insert-only deltas; THIS maintains a stored AGGREGATE against
    * the q130 CDC feed, which carries updates, deletes, and inserts — the
    * shape a 100 TB dashboard actually needs. count and exact-decimal sum
    * are abelian-group aggregates (q170's erasure algebra), so a change
    * batch maintains the stored rollup by ±delta contribution alone:
    * RETRACT each affected key's old row (−1, −balance, old segment; a
    * delete-of-missing-key retracts nothing — the inner join is the
    * no-op), ADD the post-image of every upsert (+1, +balance, new
    * segment — updates that MOVE a key between segments retract from one
    * group and add to another), and drop groups whose count reaches zero
    * (a fully-retracted group must not linger as a zero row). The stored
    * per-segment aggregate is a SCANNED session-memoized parquet (the
    * q247 stored-view pattern, PlanSpec-pinned as a file scan); the
    * customer base is touched only by the feed-key join. The ORACLE
    * recomputes the aggregate over the fully-merged table (q130's
    * latest-wins resolution) — the hash match IS the retraction-
    * correctness equation: stored − old + new ≡ recompute(merge).
    *
    * Scale shape: work ∝ |change batch| + |stored rollup| (segment-
    * domain-sized); the exact DECIMAL sums make the ± algebra lossless —
    * double sums would not survive a retraction. */
  private val q258: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    // one change BATCH (every third order), not the whole feed — so the
    // maintained rollup mixes surviving base rows with retractions and
    // upserts (all-touched would just empty every base segment)
    val feed = Tables.orders(s, d)
      .filter(col("o_orderkey") % 3 === 0)
      .select(
      // synthesized-insert keys shift by 10¹² — far above any reachable
      // custkey domain (replica-offset scaled keys included: sf1000 TPC-H
      // is ~1.5·10⁸ customers), so an "insert" can never alias a genuine
      // base key at any SF and the insert/update mix is scale-stable
      when(col("o_orderkey") % 7 === 0, col("o_custkey") + 1000000000000L)
        .otherwise(col("o_custkey")).as("c_custkey"),
      col("o_totalprice").as("c_acctbal"),
      col("o_orderpriority").as("c_mktsegment"),
      col("o_orderkey").as("seq"),
      when(col("o_orderkey") % 10 === 0, lit("D"))
        .otherwise(lit("U")).as("op"))
    val latest = feed.withColumn("rn", row_number().over(
        W.partitionBy("c_custkey").orderBy(col("seq").desc)))
      .filter(col("rn") === 1).drop("rn", "seq")
    // retract the OLD contribution of every key the batch touches (keys
    // absent from the base — inserts, deletes of missing keys — retract
    // nothing); at production scale the key set broadcasts
    val retract = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .join(latest.select("c_custkey"), Seq("c_custkey"))
      .select(col("c_mktsegment"), lit(-1L).as("dn"),
        (-col("c_acctbal").cast(DecimalType(18, 2))).as("ds"))
    // add the post-image of every surviving upsert
    val add = latest.filter(col("op") === "U")
      .select(col("c_mktsegment"), lit(1L).as("dn"),
        col("c_acctbal").cast(DecimalType(18, 2)).as("ds"))
    ivmAggView(s, d).select(col("c_mktsegment"), col("n").as("dn"),
        col("s").as("ds"))
      .unionByName(retract).unionByName(add)
      .groupBy("c_mktsegment")
      .agg(sum(col("dn")).as("n_rows"), sum(col("ds")).as("sum_bal"))
      .filter(col("n_rows") > 0)
      .select(col("c_mktsegment"), col("n_rows"),
        col("sum_bal").cast("double").as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** Q264: JOIN-view IVM under RETRACTIONS — the IVM ladder's last rung
    * after q247 (insert-only join deltas) and q258 (retraction aggregates):
    * a stored join+rollup view V = π[seg, count, Σprice](C ⋈ O) maintained
    * against a CDC feed on the CUSTOMER side (updates + deletes + inserts,
    * the q130/q258 feed shape) PLUS an insert-only arrival batch on the
    * ORDERS side — the Materialize/Flink changelog-join shape, and the
    * most common materialized view in practice (join + rollup).
    *
    * Algebra: with ΔC the SIGNED customer delta (every touched key's
    * pre-image at −1 — the retraction branch, read from the BASE customer
    * state, i.e. the other side of the CDC feed's own history — and every
    * surviving upsert's post-image at +1) and ΔO the orders arrival batch,
    * the Gupta–Mumick four-branch rule extends to retractions because the
    * join is BILINEAR over signed multisets:
    *
    *   V(C₀+ΔC, O₀+ΔO) = V(C₀,O₀) + ΔC⋈O₀ + C₀⋈ΔO + ΔC⋈ΔO
    *                   = V(C₀,O₀) + ΔC⋈(O₀+ΔO) + C₀⋈ΔO
    *
    * — the fused form computed here: the signed customer delta joins the
    * OTHER side's LATEST stored state (O₁ = O₀+ΔO) once, which folds the
    * ΔC⋈ΔO cross branch in for free; delete pre-images retract every join
    * row they had (−1, −price — the q258 ± algebra at JOIN granularity);
    * updates that MOVE a customer between segments retract from one group
    * and add to another; inserted keys (offset 10¹² — can never alias a
    * real custkey at any SF) join no orders and contribute nothing, as
    * they must. Groups whose count reaches zero are dropped (the q258
    * zero-row rule). V(C₀,O₀) is a SCANNED session-memoized parquet
    * (PlanSpec pins the file scan); exact DECIMAL sums make the ± algebra
    * lossless. The ORACLE is the FULL RECOMPUTE over the latest-wins
    * merged customer table joined to all orders — the hash match IS the
    * retraction-correctness equation at join granularity.
    *
    * Scale shape: the shuffle/agg work is ∝ |ΔC|·(orders per touched
    * customer) + |ΔO| + |stored rollup| (segment-domain-sized; AQE
    * broadcasts the touched-key set while it fits) — but the ΔC⋈O₁ probe
    * still SCANS the orders side unless the lake's layout can prune it:
    * on a custkey-clustered lake the touched cohort's pushed bounds cut
    * the scan to the intersecting row groups (`ScaleBench ivm` measures
    * 1-of-160 files at 10×; hash-spread cohorts take the q270 bloom
    * complement) — the layout lever that makes the refresh genuinely
    * delta-sized end to end. */
  private val q264: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    val feed = Tables.orders(s, d)
      .filter(col("o_orderkey") % 3 === 0)
      .select(
        when(col("o_orderkey") % 7 === 0, col("o_custkey") + 1000000000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        col("o_orderpriority").as("seg"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 10 === 0, lit("D"))
          .otherwise(lit("U")).as("op"))
    val latest = feed.withColumn("rn", row_number().over(
        W.partitionBy("c_custkey").orderBy(col("seq").desc)))
      .filter(col("rn") === 1).drop("rn", "seq")
    // retraction branch: pre-images of every touched key that EXISTS in
    // the base (inserts / deletes of missing keys retract nothing)
    val pre = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      .join(latest.select("c_custkey"), Seq("c_custkey"))
      .select(col("c_custkey"), col("seg"), lit(-1L).as("sgn"))
    val post = latest.filter(col("op") === "U")
      .select(col("c_custkey"), col("seg"), lit(1L).as("sgn"))
    val dC = pre.unionByName(post)
    // ΔC joins the orders side's LATEST stored state (O₀ ∪ ΔO) — the
    // fused retraction+cross branch
    val oAll = Tables.orders(s, d)
      .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
    val dPrice = col("o_totalprice").cast(DecimalType(18, 2))
    val branchA = dC.join(oAll, Seq("c_custkey"))
      .select(col("seg"), col("sgn").as("dn"),
        (col("sgn") * dPrice).as("ds"))
    // C₀ ⋈ ΔO: the insert-only arrival batch against the base customers
    val dO = Tables.orders(s, d).filter(col("o_orderkey") % 17 === 3)
      .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
    val branchB = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      .join(dO, Seq("c_custkey"))
      .select(col("seg"), lit(1L).as("dn"), dPrice.as("ds"))
    ivmJoinView(s, d).select(col("seg"), col("n").as("dn"),
        col("s").as("ds"))
      .unionByName(branchA).unionByName(branchB)
      .groupBy(col("seg").as("c_mktsegment"))
      .agg(sum(col("dn")).as("n_rows"), sum(col("ds")).as("sum_p"))
      .filter(col("n_rows") > 0)
      .select(col("c_mktsegment"), col("n_rows"),
        col("sum_p").cast("double").as("total_price"))
      .orderBy("c_mktsegment")
  }

  /** Q268: MIN/MAX IVM under RETRACTIONS — the NON-abelian rung of the
    * IVM ladder (q258 count/sum, q264 join views): max has no inverse, so
    * "retract the old max" cannot be answered from (group, max) state —
    * the classic reason naive materialized views re-scan the group on
    * every delete. The standard fix (the Materialize/DBSP hierarchical
    * min/max shape, here at one level) maintains the VALUE HISTOGRAM
    * instead: a stored (segment, balance_cents, count) table — counts ARE
    * abelian, so the q258 ± algebra applies unchanged — and the readout
    * recovers min/max as the extreme value with a surviving positive
    * count. A retraction that kills the current max automatically
    * surfaces the runner-up; the fixture exercises exactly that (every
    * base segment's max holder is touched by the feed — pinned in
    * R18QuerySemanticsSpec). Values are exact integer CENTS (the decimal
    * route: double → DECIMAL(18,2) → ×100 → BIGINT, no float compare
    * anywhere). The stored histogram is a SCANNED memoized parquet
    * (PlanSpec); the ORACLE recomputes min/max over the latest-wins
    * merged table — the hash match is the non-abelian-retraction
    * correctness equation.
    *
    * Scale shape: work ∝ |batch| + |histogram| (value-domain-sized per
    * group; at 100 TB domains the histogram buckets hierarchically —
    * maintain counts per 2ᵏ-wide bucket and drill down on readout, the
    * same algebra one level deeper). */
  private val q268: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    def cents(c: org.apache.spark.sql.Column) =
      (c.cast(DecimalType(18, 2)) * 100).cast("long")
    val feed = Tables.orders(s, d)
      .filter(col("o_orderkey") % 3 === 0)
      .select(
        when(col("o_orderkey") % 7 === 0, col("o_custkey") + 1000000000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        col("o_totalprice").as("bal"),
        col("o_orderpriority").as("seg"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 10 === 0, lit("D"))
          .otherwise(lit("U")).as("op"))
    val latest = feed.withColumn("rn", row_number().over(
        W.partitionBy("c_custkey").orderBy(col("seq").desc)))
      .filter(col("rn") === 1).drop("rn", "seq")
    val retract = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        col("c_acctbal"))
      .join(latest.select("c_custkey"), Seq("c_custkey"))
      .select(col("seg"), cents(col("c_acctbal")).as("bal_cents"),
        lit(-1L).as("dn"))
    val add = latest.filter(col("op") === "U")
      .select(col("seg"), cents(col("bal")).as("bal_cents"),
        lit(1L).as("dn"))
    ivmHistView(s, d).select(col("seg"), col("bal_cents"),
        col("n").as("dn"))
      .unionByName(retract).unionByName(add)
      .groupBy("seg", "bal_cents")
      .agg(sum(col("dn")).as("n"))
      .filter(col("n") > 0)
      .groupBy(col("seg").as("c_mktsegment"))
      .agg(sum(col("n")).as("n_rows"),
        min(col("bal_cents")).as("min_bal_cents"),
        max(col("bal_cents")).as("max_bal_cents"))
      .orderBy("c_mktsegment")
  }

  /** Q273: EXACT PERCENTILES under RETRACTIONS — the readout that makes
    * the q268 value-histogram state load-bearing: mergeable quantile
    * sketches (q87/q257's KMV, t-digest, HLL-family summaries) are
    * insert-only — a retraction can only be answered by a full re-sketch,
    * because a sketch cannot know whether the retracted value was one it
    * kept. The maintained (segment, value, count) histogram CAN retract
    * (counts are abelian), and exact nearest-rank percentiles fall out of
    * one cumulative pass over the SURVIVING counts: p50 = smallest value
    * whose cumulative count reaches ⌈n/2⌉ = (n+1) div 2, p90 at
    * ⌈9n/10⌉ = (9n+9) div 10 — pure integer rank algebra (the q158
    * rule: a float percentile literal would flip rank boundaries
    * cross-engine). Same feed and stored state as q268; the ORACLE
    * recomputes the percentiles over the latest-wins merged table.
    *
    * Scale shape: work ∝ |batch| + |histogram|; the cumulative window
    * partitions by segment over value-domain-sized rows (never row
    * count). At 100 TB value domains the same algebra runs over
    * hierarchical buckets (maintain 2ᵏ-wide bucket counts, drill into
    * the one bucket holding the rank — the q230 refinement shape). */
  private val q273: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    def cents(c: org.apache.spark.sql.Column) =
      (c.cast(DecimalType(18, 2)) * 100).cast("long")
    val feed = Tables.orders(s, d)
      .filter(col("o_orderkey") % 3 === 0)
      .select(
        when(col("o_orderkey") % 7 === 0, col("o_custkey") + 1000000000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        col("o_totalprice").as("bal"),
        col("o_orderpriority").as("seg"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 10 === 0, lit("D"))
          .otherwise(lit("U")).as("op"))
    val latest = feed.withColumn("rn", row_number().over(
        W.partitionBy("c_custkey").orderBy(col("seq").desc)))
      .filter(col("rn") === 1).drop("rn", "seq")
    val retract = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        col("c_acctbal"))
      .join(latest.select("c_custkey"), Seq("c_custkey"))
      .select(col("seg"), cents(col("c_acctbal")).as("bal_cents"),
        lit(-1L).as("dn"))
    val add = latest.filter(col("op") === "U")
      .select(col("seg"), cents(col("bal")).as("bal_cents"),
        lit(1L).as("dn"))
    val surviving = ivmHistView(s, d).select(col("seg"), col("bal_cents"),
        col("n").as("dn"))
      .unionByName(retract).unionByName(add)
      .groupBy("seg", "bal_cents")
      .agg(sum(col("dn")).as("n"))
      .filter(col("n") > 0)
    val cum = W.partitionBy("seg").orderBy("bal_cents")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val tot = W.partitionBy("seg")
    surviving
      .withColumn("cum", sum(col("n")).over(cum))
      .withColumn("nr", sum(col("n")).over(tot))
      .groupBy(col("seg").as("c_mktsegment"))
      .agg(max(col("nr")).as("n_rows"),
        min(when(col("cum") >= expr("(nr + 1) div 2"),
          col("bal_cents"))).as("p50_cents"),
        min(when(col("cum") >= expr("(9 * nr + 9) div 10"),
          col("bal_cents"))).as("p90_cents"))
      .orderBy("c_mktsegment")
  }

  /** Q276: the WIDE-DOMAIN form of q268/q273's maintained histogram —
    * the hierarchical bucketed state both scaladocs promised (VERDICT
    * r18 item 4): at 100 TB value domains a flat (segment, value, count)
    * histogram is value-domain-sized, so the maintained state here is
    * counts per 2¹³-cent-wide BUCKET (floor division via arithmetic
    * shift — exact for negative balances, where `div` truncates toward
    * zero and would fuse bucket −0 with +0) — the q258 ± algebra applies
    * to bucket counts unchanged, and state is |buckets| per group
    * regardless of how many distinct values the domain carries.
    *
    * Readout (the q230 refinement shape, one level): a cumulative pass
    * over SURVIVING bucket counts locates, per segment, the one bucket
    * holding each nearest-rank target (p50, p90) and the RESIDUAL rank
    * within it; then ONE drill-down scan of the current latest-wins
    * rows, PRUNED to exactly those (segment, bucket) pairs (a broadcast
    * membership join — on a value-clustered lake the same predicate
    * prunes row groups by footer min/max), ranks inside each target
    * bucket and picks the exact value. Work ∝ |batch| + |buckets| +
    * |target-bucket rows| — never |distinct values|.
    *
    * The ORACLE is the q273 recompute (identical output contract) — the
    * hash match proves bucketed-state + drill-down ≡ exact percentiles;
    * PercentileIvmSpec additionally pins bucketed ≡ flat on a
    * synthetic ~100k-distinct-value domain where the bucketed state is
    * measured at a small fraction of the flat histogram's rows.
    *
    * COMPOSE-TIME ACTIONS (the ADVICE r19 note): the locate collect and
    * the bucket-view materialization run Spark jobs when the query is
    * COMPOSED, not at its first action — schema-only consumers
    * (QueriesSmokeSpec's sweep, PlanDump) pay the locate pipeline. This
    * is deliberate: the collected targets are ≤ 2 ranks per segment BY
    * CONSTRUCTION, and collecting them is what lets the drill-down push
    * LITERAL value ranges to the parquet reader (a join filter never
    * reaches it). The latest-wins frame is cached and owned by the
    * composition ([[RunScope]]): the compose-time locate actions read it
    * and the readout's first action releases it. Without
    * the cache the per-custkey window recomputed FOUR times per run
    * (retract + add at locate, anti-join + add at readout — the r20
    * profile).
    *
    * DOMAIN BOUND (one level, honest): 2¹³-cent buckets are sized for a
    * cents domain (≈ 2²⁰ distinct values → ≈ 2⁷ buckets per segment,
    * and a ≤ 2¹³-value drill). Past ~2²⁰-wide domains the flat bucket
    * histogram itself grows past maintainable state — the completing
    * rung is [[q281]]: coarse 2⁴⁰ buckets + the 256-ary in-bucket
    * refinement, bounded at ANY width (PercentileIvmSpec pins both
    * paths agree on a 62-bit domain). */
  private val q276: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    def cents(c: org.apache.spark.sql.Column) =
      (c.cast(DecimalType(18, 2)) * 100).cast("long")
    val feed = Tables.orders(s, d)
      .filter(col("o_orderkey") % 3 === 0)
      .select(
        when(col("o_orderkey") % 7 === 0, col("o_custkey") + 1000000000000L)
          .otherwise(col("o_custkey")).as("c_custkey"),
        col("o_totalprice").as("bal"),
        col("o_orderpriority").as("seg"),
        col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 10 === 0, lit("D"))
          .otherwise(lit("U")).as("op"))
    val latest = RunScope.own(feed.withColumn("rn", row_number().over(
        W.partitionBy("c_custkey").orderBy(col("seq").desc)))
      .filter(col("rn") === 1).drop("rn", "seq"))
    // materialize BEFORE the two-branch locate consumes it: the p50/p90
    // union branches otherwise race to populate the cache concurrently
    // (the q254 round-cache lesson — profiled here as two 65-task jobs
    // of ~30 s task time at ~4 s CPU, tasks blocked on population)
    latest.count()
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        col("c_acctbal"))
    // ± deltas at BUCKET granularity (the state the stream maintains)
    val retract = base
      .join(latest.select("c_custkey"), Seq("c_custkey"))
      .select(col("seg"),
        shiftright(cents(col("c_acctbal")), 13).as("bucket"),
        lit(-1L).as("dn"))
    val add = latest.filter(col("op") === "U")
      .select(col("seg"), shiftright(cents(col("bal")), 13).as("bucket"),
        lit(1L).as("dn"))
    val surviving = ivmBucketView(s, d).select(col("seg"), col("bucket"),
        col("n").as("dn"))
      .unionByName(retract).unionByName(add)
      .groupBy("seg", "bucket")
      .agg(sum(col("dn")).as("n"))
      .filter(col("n") > 0)
    // locate the rank-holding bucket + residual rank per target
    val cum = W.partitionBy("seg").orderBy("bucket")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val tot = W.partitionBy("seg")
    val located = surviving
      .withColumn("cum", sum(col("n")).over(cum))
      .withColumn("nr", sum(col("n")).over(tot))
    // the target set is driver-sized BY CONSTRUCTION (≤ 2 ranks per
    // segment) — collect it ONCE: (a) the literal value ranges on the
    // stored column (bucket b covers cents [b·2¹³, b·2¹³ + 2¹³−1],
    // floor semantics exact for negative b), because a join filter
    // never reaches the parquet reader and a filter on the DERIVED
    // bucket column doesn't push either — on a value-clustered lake
    // the range disjunction is what turns the drill-down into a
    // row-group-pruned scan (PartitionPruningSpec pins the metric);
    // (b) the broadcast refinement frame for the exact (seg, bucket)
    // residual-rank join, rebuilt from the SAME collected rows so the
    // locate pipeline runs exactly once.
    // BOTH ranks probe in ONE pass: a per-row explode of the two
    // (which, rank) candidates then the rank-holding filter — the
    // earlier two-branch union re-executed the whole locate pipeline
    // per rank (r20 profile: two 65-task jobs of ~16 s task time each;
    // branch k ≡ the explode rows with its `which`, so the rows are
    // identical)
    val targets0 = located
      .select(col("seg"), col("bucket"), col("n"), col("cum"), col("nr"),
        explode(array(
          struct(lit("p50").as("which"), expr("(nr + 1) div 2").as("r")),
          struct(lit("p90").as("which"),
            expr("(9 * nr + 9) div 10").as("r")))).as("t"))
      .filter(col("cum") >= col("t.r") &&
        col("cum") - col("n") < col("t.r"))
      .select(col("seg"), col("bucket"),
        (col("t.r") - (col("cum") - col("n"))).as("resid"),
        col("t.which").as("which"), col("nr"))
    val targetRows = targets0.collect()
    val targets = s.createDataFrame(
      java.util.Arrays.asList(targetRows: _*), targets0.schema)
    val targetBuckets = targetRows.map(_.getAs[Long]("bucket"))
      .distinct.toSeq
    val inTargetRange = targetBuckets
      .map(b => col("bal_cents").between(b * 8192L, b * 8192L + 8191L))
      .reduceOption(_ || _)
      .getOrElse(lit(false)) // empty base ⇒ no targets ⇒ zero rows
    // drill down: current latest-wins rows pruned to the target buckets
    val current = base
      .join(latest.select("c_custkey"), Seq("c_custkey"), "left_anti")
      .select(col("seg"), cents(col("c_acctbal")).as("bal_cents"))
      .unionByName(latest.filter(col("op") === "U")
        .select(col("seg"), cents(col("bal")).as("bal_cents")))
      .filter(inTargetRange)
      .withColumn("bucket", shiftright(col("bal_cents"), 13))
    current
      .join(broadcast(targets), Seq("seg", "bucket"))
      .withColumn("rn", row_number().over(
        W.partitionBy("seg", "bucket", "which").orderBy("bal_cents")))
      .filter(col("rn") === col("resid"))
      .groupBy(col("seg").as("c_mktsegment"))
      .agg(max(col("nr")).as("n_rows"),
        min(when(col("which") === "p50", col("bal_cents")))
          .as("p50_cents"),
        min(when(col("which") === "p90", col("bal_cents")))
          .as("p90_cents"))
      .orderBy("c_mktsegment")
  }

  /** Q281: the WIDE-DOMAIN completion of the q276 rung (VERDICT r19
    * item 4) — maintained bucket state bounded at ANY domain width. q276's
    * one-level design is sized for its domain: 2¹³-cent buckets over a
    * cents balance domain (≈ 2²⁰ values) keep both |buckets| and the
    * drill's row_number sort small. On a genuinely wide domain (the
    * synthetic 62-bit key-spread value here) neither survives: per-value
    * state is |distinct|-sized and a fine-bucket histogram still carries
    * ~2⁵¹ rows. THIS query maintains counts per 2⁴⁰-wide bucket
    * (|buckets| ≤ 2²² at full domain width, segment-independent), applies
    * the q258 ± algebra at bucket granularity (deletes retract, inserts
    * add), locates each nearest-rank target's bucket + residual rank from
    * the cumulative pass — and then resolves the EXACT value inside the
    * 2⁴⁰-wide target bucket with [[graft.functions.ExactSelect
    * .valuesAtRanks]]'s 256-ary refinement (⌈log₂₅₆ 2⁴⁰⌉ = 5 grouped
    * counting scans over literal-range-pruned rows) — never a row_number
    * sort of the bucket's rows, which is what made a wide bucket
    * unaffordable. PercentileIvmSpec pins refine-drill ≡ row_number
    * drill on this domain and the maintained state ≪ per-value state.
    *
    * COMPOSE-TIME ACTIONS (the q276 hazard, same justification): the
    * locate collect and the refinement rounds run Spark jobs when the
    * query is COMPOSED — driver-sized by construction (≤ 2 ranks per
    * segment; ~5 counting passes), and what lets the drill push LITERAL
    * value ranges into the scan. Schema-only consumers pay them; nothing
    * is cached.
    *
    * The ORACLE recomputes the surviving set's exact nearest-rank
    * percentiles directly — the hash match proves coarse-bucket state +
    * refinement ≡ exact order statistics. */
  private val q281: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    val vExpr = (col("l_orderkey") % 4194304L) * 1099511627776L +
      (col("l_partkey") % 1048576L) * 1048576L +
      (col("l_suppkey") % 1048576L)
    val li = Tables.lineitem(s, d).select(col("l_returnflag").as("flag"),
      vExpr.as("v"), col("l_orderkey"), col("l_suppkey"))
    val base = li.filter(col("l_orderkey") % 4 =!= 0)
    // the MAINTAINED coarse histogram + the ± delta at bucket granularity
    val stored = base.groupBy(col("flag"),
        shiftright(col("v"), 40).as("bucket"))
      .agg(count(lit(1)).as("n"))
    // dels and adds are disjoint row sets of the SAME scan — one pass
    // emits both signs (guide §2.3 "aggregate before you shuffle": the
    // 3-branch union re-scanned lineitem once per branch; measured in
    // the q281 profile as two extra 0.7-s scan jobs)
    val deltas = li.filter(col("l_orderkey") % 4 === 0 ||
        col("l_suppkey") % 10 === 3)
      .select(col("flag"), shiftright(col("v"), 40).as("bucket"),
        when(col("l_orderkey") % 4 === 0, lit(1L)).otherwise(lit(-1L))
          .as("dn"))
    val surviving = stored.select(col("flag"), col("bucket"),
        col("n").as("dn"))
      .unionByName(deltas)
      .groupBy("flag", "bucket")
      .agg(sum(col("dn")).as("n"))
      .filter(col("n") > 0)
    // locate the rank-holding bucket + residual rank per target. The
    // cumulative sum runs TWO-LEVEL (guide §2.5: a Window partitioned by
    // 3 flags is a 3-task stage — profiled as a 1.4 s single-task sort
    // over the ~450k-bucket histogram): an in-chunk prefix sum
    // parallelized over 2¹²-bucket chunks, plus a chunk-offset join from
    // the (flag, chunk)-totals frame (tiny — ≤ 2¹⁰ rows per flag, its
    // own window is trivially cheap). chunk = bucket div 2¹² is monotone
    // in bucket, so in-chunk-cum + preceding-chunk offset ≡ the flat
    // per-flag cumulative sum, exactly (integer algebra, no ties).
    val wIn = W.partitionBy("flag", "chunk").orderBy("bucket")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val withIn = surviving
      .withColumn("chunk", shiftright(col("bucket"), 12))
      .withColumn("cin", sum(col("n")).over(wIn))
    val chunkTots = withIn.groupBy("flag", "chunk")
      .agg(sum(col("n")).as("cn"))
    val wOff = W.partitionBy("flag").orderBy("chunk")
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = chunkTots
      .withColumn("off", coalesce(sum(col("cn")).over(wOff), lit(0L)))
      .withColumn("nr", sum(col("cn")).over(W.partitionBy("flag")))
      .select(col("flag"), col("chunk"), col("off"), col("nr"))
    val located = withIn.join(broadcast(offsets), Seq("flag", "chunk"))
      .withColumn("cum", col("cin") + col("off"))
    // both ranks probe in ONE pass (the q276 explode fusion — the
    // two-branch union re-executed the whole locate pipeline per rank)
    val targetRows = located
      .select(col("flag"), col("bucket"), col("n"), col("cum"), col("nr"),
        explode(array(
          struct(lit(0).as("pid"), expr("(nr + 1) div 2").as("r")),
          struct(lit(1).as("pid"),
            expr("(9 * nr + 9) div 10").as("r")))).as("t"))
      .filter(col("cum") >= col("t.r") &&
        col("cum") - col("n") < col("t.r"))
      .select(col("flag"), col("bucket"),
        (col("t.r") - (col("cum") - col("n"))).as("resid"),
        col("t.pid").as("pid"), col("nr"))
      .collect()
    val lt = org.apache.spark.sql.types.LongType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_returnflag",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_rows", lt),
      org.apache.spark.sql.types.StructField("p50_v", lt),
      org.apache.spark.sql.types.StructField("p90_v", lt)))
    // empty base ⇒ no targets ⇒ zero rows (the q276 empty-locate guard)
    val outRows: Seq[org.apache.spark.sql.Row] =
      if (targetRows.isEmpty) Nil
      else {
        val bw = 1099511627776L // 2^40
        val probes = targetRows.toSeq.map { r =>
          val b = r.getAs[Long]("bucket")
          (r.getAs[String]("flag"): Any, r.getAs[Int]("pid"),
            b * bw, b * bw + (bw - 1L), r.getAs[Long]("resid"))
        }
        // current surviving rows, pruned to the target buckets' LITERAL
        // value ranges (scan-pushable — the q276 move), then refined
        val current = li.filter(col("l_orderkey") % 4 === 0 ||
            col("l_suppkey") % 10 =!= 3)
          .select(col("flag"), col("v"))
        val inRange = probes.map(p => col("v").between(p._3, p._4))
          .reduce(_ || _)
        val resolved = graft.functions.ExactSelect.valuesAtRanks(
          current.filter(inRange), "flag", "v", probes)
        val nrs = targetRows.map(r =>
          r.getAs[String]("flag") -> r.getAs[Long]("nr")).toMap
        nrs.toSeq.sortBy(_._1).map { case (f, nr) =>
          org.apache.spark.sql.Row(f, nr, resolved((f, 0)),
            resolved((f, 1))) }
      }
    s.createDataFrame(java.util.Arrays.asList(outRows: _*), outSchema)
  }

  // The stored BUCKET histogram q276 maintains: (segment,
  // bal_cents >> 13, count) over the customer base — |buckets| rows per
  // segment, never |distinct values| — materialized ONCE per
  // (session, dir) as a temp parquet the incremental path SCANS.
  private val ivmBucketMemo = new SessionMemo[String]

  private def ivmBucketView(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(ivmBucketMemo(s, d) {
      val p = TempDirs.scoped("graft-ivm-bucket")
      Tables.customer(s, d)
        .groupBy(col("c_mktsegment").as("seg"),
          shiftright((col("c_acctbal").cast(DecimalType(18, 2)) * 100)
            .cast("long"), 13).as("bucket"))
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(p)
      p
    })

  // The stored value histogram q268 maintains: (segment, exact balance
  // cents, count) over the customer base, materialized ONCE per
  // (session, dir) as a temp parquet the incremental path SCANS.
  private val ivmHistMemo = new SessionMemo[String]

  private def ivmHistView(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(ivmHistMemo(s, d) {
      val p = TempDirs.scoped("graft-ivm-hist")
      Tables.customer(s, d)
        .groupBy(col("c_mktsegment").as("seg"),
          (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long")
            .as("bal_cents"))
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(p)
      p
    })

  // The stored join+rollup view q264 maintains: (segment, join-row count,
  // exact DECIMAL Σ o_totalprice) over C₀ ⋈ O₀ (O₀ = orders before the
  // ≡3-mod-17 arrival batch), materialized ONCE per (session, dir) as a
  // temp parquet the incremental path SCANS.
  private val ivmJoinMemo = new SessionMemo[String]

  private def ivmJoinView(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(ivmJoinMemo(s, d) {
      val p = TempDirs.scoped("graft-ivm-join")
      val o0 = Tables.orders(s, d)
        .filter(!(col("o_orderkey") % 17 === 3))
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
        .join(o0, Seq("c_custkey"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("s"))
        .write.mode("overwrite").parquet(p)
      p
    })

  // The stored per-segment rollup q258 maintains: (segment, count, exact
  // DECIMAL balance sum) over the customer base, materialized ONCE per
  // (session, dir) as a temp parquet the incremental path SCANS.
  private val ivmAggMemo = new SessionMemo[String]

  private def ivmAggView(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(ivmAggMemo(s, d) {
      val p = TempDirs.scoped("graft-ivm-agg")
      Tables.customer(s, d)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).as("s"))
        .write.mode("overwrite").parquet(p)
      p
    })

  /** Q259: typed CSV read under the differential gate — the one §2B
    * source format that was spec-only until now. The fixture is a
    * deterministic CSV written BYTE-BY-BYTE with plain java.nio (never
    * Spark's CSV writer — the gate must bind the READER, not a write/read
    * identity): a key-sliced customer projection plus hand-authored edge
    * rows exercising quoted commas, RFC-4180 doubled-quote escapes, a
    * literal NULL token vs a quoted empty string, a non-ASCII name
    * (\u escapes in source, chr() in the oracle — the q184 encoding
    * rule), negative and zero decimals. Read with an EXPLICIT schema,
    * `nullValue=NULL`, quote/escape `"` — the production contract (a
    * schema-inferring read is a second scan; an inferred nullable string
    * table is not a typed source). Under these options Spark maps BOTH
    * the quoted empty string and the empty unquoted field to null for
    * typed columns and "" for strings — the oracle encodes the observed
    * contract per column. No embedded-newline row: multiLine=true forces
    * whole-file parsing (unsplittable at 100 TB), so the library's
    * contract is newline-free fields — documented here, enforced by the
    * writer side in CsvRoundTripSpec.
    *
    * The ORACLE recomputes the fixture's logical rows from the customer
    * TABLE plus inline VALUES — if Spark's parser mis-handled any edge
    * (quote state machine, null vs empty, decimal text), the hash
    * mismatches. Scale shape: one splittable file scan with the explicit
    * schema; the fixture build is a bounded key-sliced collect, memoized
    * per (session, dir). */
  private val q259: Q = (s, d) => {
    val dir = csvFixtureDir(s, d)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_custkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c_name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("c_acctbal",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("c_mktsegment",
        org.apache.spark.sql.types.StringType)))
    s.read.schema(schema)
      .option("header", "true")
      .option("nullValue", "NULL")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"),
        length(coalesce(col("c_name"), lit(""))).cast("long")
          .as("name_len"))
      .orderBy("c_custkey")
  }

  // The deterministic CSV fixture q259 reads: derived customer rows (key
  // ≡ 7 mod 150) + fixed edge rows, written with java.nio so the READER
  // is the only Spark CSV code under test.
  private val csvMemo = new SessionMemo[String]

  private def csvFixtureDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    csvMemo(s, d) {
      val dir = TempDirs.scoped("graft-csv-fixture")
      def q(v: String): String = "\"" + v.replace("\"", "\"\"") + "\""
      val derived = Tables.customer(s, d)
        .filter(col("c_custkey") % 150 === 7)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")
        .collect()
        .map { r =>
          val bal = java.math.BigDecimal.valueOf(r.getDouble(2))
            .toPlainString
          s"${r.getLong(0)},${q(r.getString(1))},$bal,${q(r.getString(3))}"
        }
      val edges = Seq(
        "9000001,\"comma, name\",1.5,\"SEG A\"",
        "9000002,\"quote \"\" name\",-7.25,\"SEG\"\"B\"",
        "9000003,NULL,0.0,NULL",
        "9000004,\"\",NULL,\"\"",
        "9000005,\"caf\u00e9\",12345678.09,\"SEG C\"")
      val lines = ("c_custkey,c_name,c_acctbal,c_mktsegment" +: derived)
        .++(edges)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "part-000.csv"),
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      dir
    }

  /** Q271: typed ORC read under the differential gate — the remaining
    * Spark-native columnar source format next to parquet (q01), JSON
    * (q02) and CSV (q259). ORC is a binary format (no hand-authored
    * bytes like q259's CSV), so the gate binds the read CONTENT to the
    * customer TABLE plus inline VALUES: a type-mapping defect on EITHER
    * side of the round trip — long/string/double/boolean encoding, a
    * null dropped or conflated with empty string, non-ASCII mangling,
    * negative/zero doubles — hash-mismatches against an oracle that
    * never touches the ORC bytes. The exact-cents projection mirrors the
    * q268 decimal route so the double column is also pinned through
    * exact arithmetic, not just its formatted form.
    *
    * Scale shape: ORC is splittable with predicate pushdown and column
    * pruning like parquet — one pruned scan; the fixture build is a
    * bounded key-sliced write, memoized per (session, dir). */
  private val q271: Q = (s, d) => {
    val dir = orcFixtureDir(s, d)
    s.read.orc(dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("active"),
        (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("bal_cents"),
        length(coalesce(col("c_name"), lit(""))).cast("long")
          .as("name_len"))
      .orderBy("c_custkey")
  }

  /** Q275: typed AVRO read under the differential gate — the reference's
    * actual record format (its sink writes Parquet VIA Avro records:
    * `StreamingEtl.java:219-226` `ParquetAvroWriters.forSpecificRecord`,
    * and `TripEvent` IS an Avro SpecificRecord), covered through
    * [[graft.sources.AvroLake]] on the public Avro 1.12 API because this
    * Spark distribution does not bundle the spark-avro connector module.
    * Same gate discipline as the q271 ORC twin: a binary format, so the
    * oracle recomputes the logical rows from the customer TABLE + inline
    * VALUES without touching the Avro bytes — a union(null,T) branch
    * dropped, an empty string conflated with null, a double mangled in
    * the codec, or non-ASCII mis-encoded all hash-mismatch; the
    * exact-cents projection pins the double column through exact decimal
    * arithmetic. The fixture writes MULTIPLE container files (the
    * per-partition writer layout) so the file-granular read path is the
    * one under test.
    *
    * Scale shape: write is shuffle-free per-partition container files;
    * read is one task per container file (see AvroLake's scaladoc for
    * the sync-marker-splitting trade). */
  private val q275: Q = (s, d) => {
    val dir = avroFixtureDir(s, d)
    graft.sources.AvroLake.read(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("active"),
        (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long")
          .as("bal_cents"),
        length(coalesce(col("c_name"), lit(""))).cast("long")
          .as("name_len"))
      .orderBy("c_custkey")
  }

  // The Avro fixture q275 reads: a key-sliced customer projection plus
  // the q271 edge-row set (null string vs empty string, null double,
  // non-ASCII as \u escapes, negative and zero doubles, both booleans),
  // written as TWO container files.
  private val avroMemo = new SessionMemo[String]

  private def avroFixtureDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    avroMemo(s, d) {
      val dir = TempDirs.scoped("graft-avro-fixture")
      val derived = Tables.customer(s, d)
        .filter(col("c_custkey") % 150 === 13)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit(true).as("active"))
      val schema = derived.schema
      val edges = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(9000001L, "caf\u00e9 row", 1.5, false),
          org.apache.spark.sql.Row(9000002L, null, -7.25, true),
          org.apache.spark.sql.Row(9000003L, "zero", 0.0, false),
          org.apache.spark.sql.Row(9000004L, "", null, true)),
        schema)
      graft.sources.AvroLake.write(
        derived.unionByName(edges).repartition(2), dir)
      dir
    }

  // The ORC fixture q271 reads: a key-sliced customer projection plus
  // edge rows (null string vs empty string, null double, non-ASCII as
  // \u escapes, negative and zero doubles, both boolean values).
  private val orcMemo = new SessionMemo[String]

  private def orcFixtureDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    orcMemo(s, d) {
      val dir = TempDirs.scoped("graft-orc-fixture")
      val derived = Tables.customer(s, d)
        .filter(col("c_custkey") % 150 === 11)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit(true).as("active"))
      val schema = derived.schema
      val edges = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(9000001L, "caf\u00e9 row", 1.5, false),
          org.apache.spark.sql.Row(9000002L, null, -7.25, true),
          org.apache.spark.sql.Row(9000003L, "zero", 0.0, false),
          org.apache.spark.sql.Row(9000004L, "", null, true)),
        schema)
      derived.unionByName(edges)
        .coalesce(1).write.mode("overwrite").orc(dir)
      dir
    }

  /** Q263: inclusion-dependency discovery — q255's cross-TABLE companion
    * (the Deequ/metadata-crawler step that proposes FOREIGN KEYS on an
    * undocumented lake): for each candidate (child column → parent
    * column) pair, the child's distinct-value count, how many distinct
    * child values have NO parent match (an exact anti-join count — zero
    * ⇔ the inclusion dependency holds), and the verdict. Five candidates:
    * the four real TPC-H FKs plus a deliberate NEGATIVE (orders.o_custkey
    * → supplier.s_suppkey) that must report violations, pinning that the
    * probe cannot vacuously pass.
    *
    * Scale shape: each candidate is one child-side DISTINCT (map-side
    * partials collapse to the value domain) + one anti join against the
    * parent key set. The broadcast hint is applied ONLY to genuinely
    * dimension-sized parents (supplier/customer/part — bounded at any
    * SF); the orders parent is FACT-sized (its key domain grows linearly
    * with scale), so that probe leaves the join strategy to AQE, which
    * broadcasts while the key set fits and degrades to a shuffled anti
    * join beyond — a forced hint there would bypass AQE's size check and
    * risk a driver OOM at large SF. The fact table is scanned once per
    * candidate column, column-pruned. Violations are counted, never
    * collected. */
  private val q263: Q = (s, d) => {
    def probe(name: String, child: org.apache.spark.sql.DataFrame,
        childCol: String, parent: org.apache.spark.sql.DataFrame,
        parentCol: String,
        dimParent: Boolean = true): org.apache.spark.sql.DataFrame = {
      val c = child.select(col(childCol).as("v"))
        .filter(col("v").isNotNull).distinct()
      val p0 = parent.select(col(parentCol).as("v")).distinct()
      val p = if (dimParent) broadcast(p0) else p0
      val unmatched = c.join(p, Seq("v"), "left_anti")
        .agg(count(lit(1)).as("n_unmatched"))
      c.agg(count(lit(1)).as("n_child_distinct"))
        .crossJoin(unmatched)
        .select(lit(name).as("candidate"), col("n_child_distinct"),
          col("n_unmatched"),
          (col("n_unmatched") === 0L).as("holds"))
    }
    val li = Tables.lineitem(s, d)
    Seq(
      probe("lineitem.l_orderkey -> orders.o_orderkey",
        li, "l_orderkey", Tables.orders(s, d), "o_orderkey",
        dimParent = false),
      probe("lineitem.l_partkey -> part.p_partkey",
        li, "l_partkey", Tables.part(s, d), "p_partkey"),
      probe("lineitem.l_suppkey -> supplier.s_suppkey",
        li, "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
      probe("orders.o_custkey -> customer.c_custkey",
        Tables.orders(s, d), "o_custkey", Tables.customer(s, d),
        "c_custkey"),
      probe("orders.o_custkey -> supplier.s_suppkey",
        Tables.orders(s, d), "o_custkey", Tables.supplier(s, d),
        "s_suppkey")
    ).reduce(_ unionByName _)
      .orderBy("candidate")
  }

  /** Q255: table profiling — the per-column statistics sweep (pandas-
    * profiling / Deequ's analyzer shape) a warehouse runs before trusting
    * a new table: for every lineitem column, row count, null count,
    * exact distinct count and the modal frequency (the max group size —
    * a skew/constant-column detector). One value-grouped aggregation per
    * column yields ALL four stats (Σcnt, Σcnt where null, count of
    * non-null groups, max cnt) — integer end to end, and grouping by the
    * TYPED value (never its string form) sidesteps cross-engine double/
    * timestamp formatting divergence entirely.
    *
    * Scale shape: each column is one column-pruned scan + one partial-agg
    * groupBy whose output is value-domain-sized — columns profile in
    * parallel and the fact table is never materialized wide. */
  private val q255: Q = (s, d) => {
    val t = Tables.lineitem(s, d)
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    cols.map { c =>
      t.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"),
          coalesce(sum(when(col(c).isNull, col("cnt"))), lit(0L))
            .as("n_nulls"),
          count(when(col(c).isNotNull, lit(1))).as("n_distinct"),
          max(col("cnt")).as("max_freq"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("max_freq"))
    }.reduce(_ unionByName _)
      .orderBy("column_name")
  }

  /** Q266: candidate-KEY discovery — q263's other half (THAT proposes
    * foreign keys; THIS verifies which column sets are candidate keys —
    * together the metadata crawler a warehouse runs on an undocumented
    * lake): per candidate column set, exact row count, distinct count of
    * fully-non-null tuples, null-row count, and the verdict
    * `is_key ⇔ no nulls ∧ n_distinct = n_rows` (SQL key semantics: a
    * nullable column cannot be a key regardless of distinctness — pinned
    * by a derived witness candidate that is UNIQUE among its non-nulls
    * yet carries nulls, so only the null rule can reject it). Seven
    * candidates: three genuine keys (c_custkey, o_orderkey, event_id),
    * the two lineitem unary columns (fail on duplicates), the COMPOSITE
    * (l_orderkey, l_linenumber) — the textbook TPC-H key, which on THIS
    * synthetic corpus genuinely duplicates (~23% dup pairs, the q165
    * audit) and must honestly FAIL — and the null witness.
    *
    * Scale shape: each candidate is ONE map-side-collapsing groupBy over
    * the candidate tuple (partials shrink to the value domain) + a
    * domain-sized fold — never a self-join, never a collect; the fact
    * scans are column-pruned to the candidate columns. */
  private val q266: Q = (s, d) => {
    def probe(name: String, t: org.apache.spark.sql.DataFrame,
        cs: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame = {
      val gcols = cs.zipWithIndex.map { case (c, i) => c.as(s"k$i") }
      val gnames = cs.indices.map(i => col(s"k$i"))
      val gNull = gnames.map(_.isNull).reduce(_ || _)
      t.select(gcols: _*)
        .groupBy(gnames: _*)
        .agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"),
          coalesce(sum(when(gNull, col("cnt"))), lit(0L)).as("n_null_rows"),
          count(when(!gNull, lit(1))).as("n_distinct"))
        .select(lit(name).as("candidate"), col("n_rows"),
          col("n_distinct"), col("n_null_rows"),
          (col("n_null_rows") === 0L &&
            col("n_distinct") === col("n_rows")).as("is_key"))
    }
    val li = Tables.lineitem(s, d)
    Seq(
      probe("customer(c_custkey)", Tables.customer(s, d),
        Seq(col("c_custkey"))),
      probe("orders(o_orderkey)", Tables.orders(s, d),
        Seq(col("o_orderkey"))),
      probe("events(event_id)", Tables.events(s, d),
        Seq(col("event_id"))),
      probe("lineitem(l_orderkey)", li, Seq(col("l_orderkey"))),
      probe("lineitem(l_linenumber)", li, Seq(col("l_linenumber"))),
      probe("lineitem(l_orderkey,l_linenumber)", li,
        Seq(col("l_orderkey"), col("l_linenumber"))),
      // the null witness: unique among non-nulls (it IS o_orderkey),
      // every ≡0 (mod 50) key masked to NULL — only the null rule rejects
      probe("orders(nullif_witness)", Tables.orders(s, d),
        Seq(when(col("o_orderkey") % 50 === 0, lit(null).cast("long"))
          .otherwise(col("o_orderkey"))))
    ).reduce(_ unionByName _)
      .orderBy("candidate")
  }

  /** Q269: functional-dependency discovery — the metadata crawler's third
    * probe after q263 (inclusion dependencies → FK candidates) and q266
    * (candidate keys): for each candidate determinant → dependent column
    * pair, the exact count of determinant values mapping to MORE than one
    * dependent value (zero ⇔ the FD holds), plus the worst fan-out — the
    * signal that drives normalization proposals and dimension extraction
    * on an undocumented lake. Five candidates: two genuine FDs (a key
    * determinant and the nation dimension's id → name) and three
    * deliberate negatives with measured fan-outs, so the probe can never
    * vacuously pass.
    *
    * Scale shape: per candidate ONE two-level grouped fold — groupBy
    * (det, dep) collapses map-side to the distinct pair domain, groupBy
    * det to the determinant domain, then a domain-sized aggregate; never
    * a self-join, scans pruned to the two columns. */
  private val q269: Q = (s, d) => {
    def probe(name: String, t: org.apache.spark.sql.DataFrame,
        det: String, dep: String): org.apache.spark.sql.DataFrame =
      t.select(col(det).as("det"), col(dep).as("dep"))
        .filter(col("det").isNotNull)
        .groupBy("det", "dep").agg(count(lit(1)).as("c"))
        .groupBy("det").agg(count(lit(1)).as("nd"))
        .agg(count(lit(1)).as("n_determinants"),
          coalesce(sum(when(col("nd") > 1, 1L).otherwise(0L)), lit(0L))
            .as("n_violating"),
          max(col("nd")).as("max_distinct_dep"))
        .select(lit(name).as("candidate"), col("n_determinants"),
          col("n_violating"), col("max_distinct_dep"),
          (col("n_violating") === 0L).as("holds"))
    Seq(
      probe("orders: o_orderkey -> o_custkey",
        Tables.orders(s, d), "o_orderkey", "o_custkey"),
      probe("nation: n_nationkey -> n_name",
        Tables.nation(s, d), "n_nationkey", "n_name"),
      probe("customer: c_nationkey -> c_mktsegment",
        Tables.customer(s, d), "c_nationkey", "c_mktsegment"),
      probe("lineitem: l_partkey -> l_suppkey",
        Tables.lineitem(s, d), "l_partkey", "l_suppkey"),
      probe("supplier: s_nationkey -> s_name",
        Tables.supplier(s, d), "s_nationkey", "s_name")
    ).reduce(_ unionByName _)
      .orderBy("candidate")
  }

  val queries: Seq[(String, Q)] = Seq(
    "q255_profile_table" -> q255,
    "q264_ivm_join_retract" -> q264,
    "q266_profile_candidate_keys" -> q266,
    "q268_ivm_minmax_retract" -> q268,
    "q269_profile_functional_deps" -> q269,
    "q271_scan_orc_typed" -> q271,
    "q275_scan_avro_typed" -> q275,
    "q273_ivm_percentile_retract" -> q273,
    "q276_ivm_bucket_percentile" -> q276,
    "q281_ivm_wide_percentile" -> q281,
    "q247_ivm_join_delta" -> q247,
    "q258_ivm_agg_retract" -> q258,
    "q259_scan_csv_typed" -> q259,
    "q263_profile_inclusion_deps" -> q263,
    "q155_join_interval_overlap" -> q155,
    "q165_data_quality_audit" -> q165,
    "q167_join_null_aware_anti" -> q167,
    "q125_scd2_upsert" -> q125,
    "q130_cdc_merge" -> q130,
    "q01_scan_project" -> q01,
    "q02_json_get" -> q02,
    "q03_project_expr" -> q03,
    "q04_filter_pred" -> q04,
    "q04b_filter_like" -> q04b,
    "q05_join_inner" -> q05,
    "q06_join_multiway" -> q06,
    "q07_join_outer" -> q07,
    "q08_join_semi" -> q08,
    "q09_join_anti" -> q09,
    "q10_join_cross" -> q10,
    "q11_join_range" -> q11,
    "q12_join_asof" -> q12,
    "q168_join_asof_forward" -> q168,
    "q13_agg_hash" -> q13,
    "q14_agg_distinct" -> q14,
    "q15_agg_rollup" -> q15,
    "q15c_agg_grouping_sets" -> q15c,
    "q15b_agg_cube" -> q15b,
    "q16_agg_global" -> q16,
    "q17_win_rank" -> q17,
    "q65_win_time_range" -> q65,
    "q18_win_frames" -> q18,
    "q19_sort_limit" -> q19,
    "q20_topk_group" -> q20,
    "q59_win_value_fns" -> q59,
    "q61_agg_strings" -> q61,
    "q21_set_union" -> q21,
    "q55_join_full" -> q55,
    "q55b_join_right" -> q55b,
    "q22_set_intersect_except" -> q22,
    "q22b_set_all" -> q22b,
    "q23_fn_string" -> q23,
    "q24_fn_datetime" -> q24,
    "q25_fn_math" -> q25,
    "q26_fn_array" -> q26,
    "q27_fn_json_explode" -> q27,
    "q27b_fn_posexplode" -> q27b,
    "q28_fn_conditional" -> q28,
    "q56_fn_levenshtein" -> q56,
    "q57_set_union_by_name" -> q57,
    "q62_sql_subqueries" -> q62,
    "q86_sql_lateral" -> q86,
    "q88_sql_recursive" -> q88,
  )

  val oracles: Map[String, String] = Map(
    // IVM: the oracle is the DIRECT full join — equality with the
    // four-branch delta union is the maintenance-correctness equation
    "q247_ivm_join_delta" ->
      s"""SELECT date_trunc('month', o_orderdate) AS mon,
         |  CAST(count(*) AS BIGINT) AS n,
         |  ${sqlDsum("l_quantity")} AS total_qty
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY mon""".stripMargin,

    // per-column profile: one value-grouped agg per column, union'd —
    // typed-value grouping avoids any cross-engine value formatting
    "q255_profile_table" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      cols.map { c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(sum(cnt) AS BIGINT) AS n_rows,
           |  CAST(coalesce(sum(CASE WHEN $c IS NULL THEN cnt END), 0)
           |    AS BIGINT) AS n_nulls,
           |  CAST(count(CASE WHEN $c IS NOT NULL THEN 1 END) AS BIGINT)
           |    AS n_distinct,
           |  CAST(max(cnt) AS BIGINT) AS max_freq
           |FROM (SELECT $c, CAST(count(*) AS BIGINT) AS cnt
           |      FROM lineitem GROUP BY $c)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    // forward as-of: DuckDB native ASOF with >= vs Spark's reversed
    // range-frame window — different physical strategies, same rows
    "q168_join_asof_forward" ->
      """SELECT c.event_id, c.user_id, c.ts, p.ts AS next_purchase_ts,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS wait_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts >= c.ts
        |ORDER BY c.event_id""".stripMargin,

    // null-aware anti join: identical SQL text — the NOT IN/NOT EXISTS
    // three-valued-logic semantics are the thing under test
    "q167_join_null_aware_anti" ->
      """WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 300000),
        |poison AS (SELECT o_custkey FROM big
        |  UNION ALL SELECT CAST(NULL AS BIGINT)),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM big)),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM poison)),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer cu
        |  WHERE NOT EXISTS (SELECT 1 FROM poison p
        |    WHERE p.o_custkey = cu.c_custkey))
        |SELECT 'not_in_clean' AS variant, n FROM a
        |UNION ALL SELECT 'not_in_null_poisoned', n FROM b
        |UNION ALL SELECT 'not_exists_null_poisoned', n FROM c
        |ORDER BY variant""".stripMargin,

    // data-quality audit: one conditional-count scan + distinct + anti
    // join, one row per rule
    "q165_data_quality_audit" ->
      """WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
        |      THEN 0 ELSE 1 END) AS BIGINT) AS f_qty,
        |    CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS f_price,
        |    CAST(sum(CASE WHEN l_discount >= 0 AND l_discount <= 0.1
        |      THEN 0 ELSE 1 END) AS BIGINT) AS f_disc,
        |    CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END)
        |      AS BIGINT) AS f_ship,
        |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        |      AS BIGINT) AS f_uniq
        |  FROM lineitem),
        |fk AS (SELECT CAST(count(*) AS BIGINT) AS f_fk FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_orderkey = l.l_orderkey)),
        |w AS (SELECT * FROM s, fk)
        |SELECT rule, n_checked, n_failed, n_failed = 0 AS pass FROM (
        |  SELECT 'fk_orderkey_resolves' AS rule, n AS n_checked,
        |    f_fk AS n_failed FROM w
        |  UNION ALL SELECT 'key_unique_orderkey_linenumber', n, f_uniq FROM w
        |  UNION ALL SELECT 'range_discount_0_to_0.1', n, f_disc FROM w
        |  UNION ALL SELECT 'range_price_positive', n, f_price FROM w
        |  UNION ALL SELECT 'range_quantity_1_to_50', n, f_qty FROM w
        |  UNION ALL SELECT 'shipdate_not_null', n, f_ship FROM w)
        |ORDER BY rule""".stripMargin,

    // interval overlap: the oracle runs the NAIVE per-supplier theta-join
    // (correct by definition); the engine's banded plan must emit the
    // identical pair set with identical overlap lengths
    "q155_join_interval_overlap" ->
      """WITH l AS (SELECT CAST(l_suppkey AS BIGINT) AS supp,
        |    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS line_id,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS start_day
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |iv AS (SELECT supp, line_id, start_day,
        |    start_day + line_id % 14 + 1 AS end_day FROM l)
        |SELECT a.supp, a.line_id AS a_id, b.line_id AS b_id,
        |  least(a.end_day, b.end_day) - greatest(a.start_day, b.start_day)
        |    + 1 AS overlap_days
        |FROM iv a JOIN iv b ON a.supp = b.supp AND a.line_id < b.line_id
        |  AND a.start_day <= b.end_day AND b.start_day <= a.end_day
        |ORDER BY a_id, b_id""".stripMargin,

    // SCD2 reconstruction: changed keys (≡0 mod 10) → closed old row +
    // opened new row; no-op updates (≡5 mod 10) and untouched keys → one
    // current row. Double arithmetic (+100.0) is a single IEEE add both
    // engines perform identically
    "q125_scd2_upsert" ->
      """WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        |unchanged AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
        |    TRUE AS is_current
        |  FROM base WHERE c_custkey % 10 != 0),
        |closed AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    '2024-01-01' AS valid_from, '2024-06-01' AS valid_to,
        |    FALSE AS is_current
        |  FROM base WHERE c_custkey % 10 = 0),
        |opened AS (
        |  SELECT c_custkey, 'MOVED' AS c_mktsegment,
        |    c_acctbal + 100.0 AS c_acctbal,
        |    '2024-06-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
        |    TRUE AS is_current
        |  FROM base WHERE c_custkey % 10 = 0)
        |SELECT * FROM unchanged UNION ALL
        |SELECT * FROM closed UNION ALL SELECT * FROM opened
        |ORDER BY c_custkey, valid_from""".stripMargin,

    // CDC latest-wins replay: same change derivation, same per-key
    // max-seq resolution (row_number window), deletes drop, survivors
    // union with untouched base rows. NOT IN is safe: keys are non-null
    "q130_cdc_merge" ->
      """WITH ch AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 10000000
        |           ELSE o_custkey END AS c_custkey,
        |    'cdc#' || CAST(o_orderkey AS VARCHAR) AS c_name,
        |    o_totalprice AS c_acctbal,
        |    o_orderpriority AS c_mktsegment,
        |    o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders),
        |w AS (SELECT *, row_number() OVER (
        |    PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM ch),
        |latest AS (SELECT * FROM w WHERE rn = 1)
        |SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM latest
        |WHERE op <> 'D'
        |ORDER BY c_custkey""".stripMargin,

    // aggregate IVM with retractions: the oracle is the FULL RECOMPUTE
    // over the latest-wins merged table (q130's resolution) — equality
    // with stored − old + new is the retraction-correctness equation
    "q258_ivm_agg_retract" ->
      """WITH ch AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0
        |           THEN o_custkey + 1000000000000
        |           ELSE o_custkey END AS c_custkey,
        |    o_totalprice AS c_acctbal,
        |    o_orderpriority AS c_mktsegment,
        |    o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |w AS (SELECT *, row_number() OVER (
        |    PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM ch),
        |latest AS (SELECT * FROM w WHERE rn = 1),
        |merged AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM latest
        |  WHERE op <> 'D')
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_bal
        |FROM merged GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    // join-view IVM with retractions: the oracle is the FULL RECOMPUTE —
    // latest-wins merged customers joined to ALL orders (O₀ ∪ ΔO) —
    // equality with stored + ΔC⋈O₁ + C₀⋈ΔO is the join-granularity
    // retraction-correctness equation
    "q264_ivm_join_retract" ->
      s"""WITH ch AS (
         |  SELECT CASE WHEN o_orderkey % 7 = 0
         |           THEN o_custkey + 1000000000000
         |           ELSE o_custkey END AS c_custkey,
         |    o_orderpriority AS c_mktsegment,
         |    o_orderkey AS seq,
         |    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
         |  FROM orders WHERE o_orderkey % 3 = 0),
         |w AS (SELECT *, row_number() OVER (
         |    PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM ch),
         |latest AS (SELECT * FROM w WHERE rn = 1),
         |merged AS (
         |  SELECT c_custkey, c_mktsegment FROM customer
         |  WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment FROM latest
         |  WHERE op <> 'D')
         |SELECT m.c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
         |  ${sqlDsum("o.o_totalprice")} AS total_price
         |FROM merged m JOIN orders o ON m.c_custkey = o.o_custkey
         |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // candidate keys: the same grouped-tuple fold per candidate — null
    // tuples counted by the group keys' nullness, distinct = non-null
    // groups; the NULLIF witness mirrors the engine's masking exactly
    "q266_profile_candidate_keys" -> {
      def p(name: String, table: String, cols: Seq[String]): String = {
        val keys = cols.mkString(", ")
        val gNull = cols.map(c => s"$c IS NULL").mkString(" OR ")
        s"""SELECT '$name' AS candidate,
           |  CAST(sum(cnt) AS BIGINT) AS n_rows,
           |  CAST(count(CASE WHEN NOT ($gNull) THEN 1 END) AS BIGINT)
           |    AS n_distinct,
           |  CAST(coalesce(sum(CASE WHEN $gNull THEN cnt END), 0)
           |    AS BIGINT) AS n_null_rows,
           |  coalesce(sum(CASE WHEN $gNull THEN cnt END), 0) = 0
           |    AND count(CASE WHEN NOT ($gNull) THEN 1 END) = sum(cnt)
           |    AS is_key
           |FROM (SELECT $keys, count(*) AS cnt FROM $table
           |      GROUP BY $keys)""".stripMargin
      }
      Seq(
        p("customer(c_custkey)", "customer", Seq("c_custkey")),
        p("orders(o_orderkey)", "orders", Seq("o_orderkey")),
        p("events(event_id)", "events", Seq("event_id")),
        p("lineitem(l_orderkey)", "lineitem", Seq("l_orderkey")),
        p("lineitem(l_linenumber)", "lineitem", Seq("l_linenumber")),
        p("lineitem(l_orderkey,l_linenumber)", "lineitem",
          Seq("l_orderkey", "l_linenumber")),
        p("orders(nullif_witness)",
          "(SELECT CASE WHEN o_orderkey % 50 = 0 THEN NULL" +
            " ELSE o_orderkey END AS wit FROM orders)",
          Seq("wit"))
      ).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY candidate")
    },

    // min/max IVM with retractions: the oracle recomputes min/max over
    // the latest-wins merged table in exact integer cents — equality with
    // the maintained value histogram's surviving-count readout is the
    // non-abelian-retraction correctness equation
    "q268_ivm_minmax_retract" ->
      """WITH ch AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0
        |           THEN o_custkey + 1000000000000
        |           ELSE o_custkey END AS c_custkey,
        |    o_totalprice AS c_acctbal,
        |    o_orderpriority AS c_mktsegment,
        |    o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |w AS (SELECT *, row_number() OVER (
        |    PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM ch),
        |latest AS (SELECT * FROM w WHERE rn = 1),
        |merged AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM latest
        |  WHERE op <> 'D')
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS min_bal_cents,
        |  CAST(max(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS max_bal_cents
        |FROM merged GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    // retraction-safe exact percentiles: the oracle recomputes nearest-
    // rank p50/p90 over the latest-wins merged table with the SAME pure-
    // integer rank formulas; window sums CAST back to BIGINT (the q91
    // HUGEINT gotcha)
    "q273_ivm_percentile_retract" ->
      """WITH ch AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0
        |           THEN o_custkey + 1000000000000
        |           ELSE o_custkey END AS c_custkey,
        |    o_totalprice AS c_acctbal,
        |    o_orderpriority AS c_mktsegment,
        |    o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |w AS (SELECT *, row_number() OVER (
        |    PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM ch),
        |latest AS (SELECT * FROM w WHERE rn = 1),
        |merged AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM latest
        |  WHERE op <> 'D'),
        |hist AS (SELECT c_mktsegment AS seg,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS bal_cents,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM merged GROUP BY 1, 2),
        |c AS (SELECT seg, bal_cents,
        |    CAST(sum(n) OVER (PARTITION BY seg ORDER BY bal_cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS nr
        |  FROM hist)
        |SELECT seg AS c_mktsegment, CAST(max(nr) AS BIGINT) AS n_rows,
        |  CAST(min(CASE WHEN cum >= (nr + 1) // 2 THEN bal_cents END)
        |    AS BIGINT) AS p50_cents,
        |  CAST(min(CASE WHEN cum >= (9 * nr + 9) // 10 THEN bal_cents END)
        |    AS BIGINT) AS p90_cents
        |FROM c GROUP BY seg ORDER BY c_mktsegment""".stripMargin,

    // wide-domain maintained percentile: the oracle recomputes the
    // surviving set's exact nearest-rank order statistics directly —
    // pure-integer ranks ((n+1)//2, (9n+9)//10 — the q158 rule), the
    // same 62-bit integer value spread (BIGINT arithmetic identical
    // cross-engine), row_number picks the k-th smallest exactly
    "q281_ivm_wide_percentile" ->
      """WITH s AS (SELECT l_returnflag AS flag,
        |    (l_orderkey % 4194304) * 1099511627776
        |      + (l_partkey % 1048576) * 1048576
        |      + (l_suppkey % 1048576) AS v
        |  FROM lineitem
        |  WHERE l_orderkey % 4 = 0 OR l_suppkey % 10 <> 3),
        |r AS (SELECT flag, v,
        |    row_number() OVER (PARTITION BY flag ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY flag) AS n FROM s)
        |SELECT flag AS l_returnflag, CAST(max(n) AS BIGINT) AS n_rows,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN v END)
        |    AS BIGINT) AS p50_v,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN v END)
        |    AS BIGINT) AS p90_v
        |FROM r GROUP BY flag ORDER BY l_returnflag""".stripMargin,

    // bucketed wide-domain percentiles: SAME logical answer as q273 —
    // the oracle is the exact recompute; the engine path differs
    // (bucket state + drill-down), which is the point of the gate
    "q276_ivm_bucket_percentile" ->
      """WITH ch AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0
        |           THEN o_custkey + 1000000000000
        |           ELSE o_custkey END AS c_custkey,
        |    o_totalprice AS c_acctbal,
        |    o_orderpriority AS c_mktsegment,
        |    o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |w AS (SELECT *, row_number() OVER (
        |    PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM ch),
        |latest AS (SELECT * FROM w WHERE rn = 1),
        |merged AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM latest
        |  WHERE op <> 'D'),
        |hist AS (SELECT c_mktsegment AS seg,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS bal_cents,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM merged GROUP BY 1, 2),
        |c AS (SELECT seg, bal_cents,
        |    CAST(sum(n) OVER (PARTITION BY seg ORDER BY bal_cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS nr
        |  FROM hist)
        |SELECT seg AS c_mktsegment, CAST(max(nr) AS BIGINT) AS n_rows,
        |  CAST(min(CASE WHEN cum >= (nr + 1) // 2 THEN bal_cents END)
        |    AS BIGINT) AS p50_cents,
        |  CAST(min(CASE WHEN cum >= (9 * nr + 9) // 10 THEN bal_cents END)
        |    AS BIGINT) AS p90_cents
        |FROM c GROUP BY seg ORDER BY c_mktsegment""".stripMargin,

    // functional dependencies: the same two-level grouped fold per
    // candidate — determinant groups counted over the distinct
    // (det, dep) pair domain
    "q269_profile_functional_deps" -> {
      def p(name: String, table: String, det: String, dep: String): String =
        s"""SELECT '$name' AS candidate,
           |  CAST(count(*) AS BIGINT) AS n_determinants,
           |  CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
           |    AS BIGINT) AS n_violating,
           |  CAST(max(nd) AS BIGINT) AS max_distinct_dep,
           |  coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) = 0
           |    AS holds
           |FROM (SELECT det, count(*) AS nd
           |      FROM (SELECT DISTINCT $det AS det, $dep AS dep
           |            FROM $table WHERE $det IS NOT NULL)
           |      GROUP BY det)""".stripMargin
      Seq(
        p("orders: o_orderkey -> o_custkey", "orders",
          "o_orderkey", "o_custkey"),
        p("nation: n_nationkey -> n_name", "nation",
          "n_nationkey", "n_name"),
        p("customer: c_nationkey -> c_mktsegment", "customer",
          "c_nationkey", "c_mktsegment"),
        p("lineitem: l_partkey -> l_suppkey", "lineitem",
          "l_partkey", "l_suppkey"),
        p("supplier: s_nationkey -> s_name", "supplier",
          "s_nationkey", "s_name")
      ).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY candidate")
    },

    // inclusion-dependency probes: per candidate, distinct child values
    // and the exact count of distinct values with no parent match
    "q263_profile_inclusion_deps" ->
      """WITH probes AS (
        |  SELECT 'lineitem.l_orderkey -> orders.o_orderkey' AS candidate,
        |    (SELECT count(DISTINCT l_orderkey) FROM lineitem
        |       WHERE l_orderkey IS NOT NULL) AS n_child_distinct,
        |    (SELECT count(*) FROM
        |       (SELECT DISTINCT l_orderkey AS v FROM lineitem
        |          WHERE l_orderkey IS NOT NULL) c
        |       WHERE NOT EXISTS (SELECT 1 FROM orders p
        |         WHERE p.o_orderkey = c.v)) AS n_unmatched
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey -> part.p_partkey',
        |    (SELECT count(DISTINCT l_partkey) FROM lineitem
        |       WHERE l_partkey IS NOT NULL),
        |    (SELECT count(*) FROM
        |       (SELECT DISTINCT l_partkey AS v FROM lineitem
        |          WHERE l_partkey IS NOT NULL) c
        |       WHERE NOT EXISTS (SELECT 1 FROM part p
        |         WHERE p.p_partkey = c.v))
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey -> supplier.s_suppkey',
        |    (SELECT count(DISTINCT l_suppkey) FROM lineitem
        |       WHERE l_suppkey IS NOT NULL),
        |    (SELECT count(*) FROM
        |       (SELECT DISTINCT l_suppkey AS v FROM lineitem
        |          WHERE l_suppkey IS NOT NULL) c
        |       WHERE NOT EXISTS (SELECT 1 FROM supplier p
        |         WHERE p.s_suppkey = c.v))
        |  UNION ALL
        |  SELECT 'orders.o_custkey -> customer.c_custkey',
        |    (SELECT count(DISTINCT o_custkey) FROM orders
        |       WHERE o_custkey IS NOT NULL),
        |    (SELECT count(*) FROM
        |       (SELECT DISTINCT o_custkey AS v FROM orders
        |          WHERE o_custkey IS NOT NULL) c
        |       WHERE NOT EXISTS (SELECT 1 FROM customer p
        |         WHERE p.c_custkey = c.v))
        |  UNION ALL
        |  SELECT 'orders.o_custkey -> supplier.s_suppkey',
        |    (SELECT count(DISTINCT o_custkey) FROM orders
        |       WHERE o_custkey IS NOT NULL),
        |    (SELECT count(*) FROM
        |       (SELECT DISTINCT o_custkey AS v FROM orders
        |          WHERE o_custkey IS NOT NULL) c
        |       WHERE NOT EXISTS (SELECT 1 FROM supplier p
        |         WHERE p.s_suppkey = c.v)))
        |SELECT candidate, CAST(n_child_distinct AS BIGINT)
        |    AS n_child_distinct,
        |  CAST(n_unmatched AS BIGINT) AS n_unmatched,
        |  n_unmatched = 0 AS holds
        |FROM probes ORDER BY candidate""".stripMargin,

    // typed CSV read: the oracle recomputes the fixture's logical rows
    // from the customer table + inline VALUES encoding the OBSERVED
    // parse contract (quoted "" -> empty string for strings / null for
    // typed; literal NULL token -> null; doubled-quote escapes; chr(233)
    // for the non-ASCII name — the q184 rule)
    "q259_scan_csv_typed" ->
      """WITH derived AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
        |  WHERE c_custkey % 150 = 7),
        |edges AS (SELECT * FROM (VALUES
        |    (9000001, 'comma, name', CAST('1.5' AS DOUBLE), 'SEG A'),
        |    (9000002, 'quote " name', CAST('-7.25' AS DOUBLE), 'SEG"B'),
        |    (9000003, NULL, CAST('0.0' AS DOUBLE), NULL),
        |    (9000004, '', CAST(NULL AS DOUBLE), ''),
        |    (9000005, 'caf' || chr(233), CAST('12345678.09' AS DOUBLE),
        |      'SEG C'))
        |  t(c_custkey, c_name, c_acctbal, c_mktsegment)),
        |u AS (SELECT * FROM derived
        |  UNION ALL SELECT * FROM edges)
        |SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_acctbal,
        |  c_mktsegment,
        |  CAST(length(coalesce(c_name, '')) AS BIGINT) AS name_len
        |FROM u ORDER BY c_custkey""".stripMargin,

    // typed ORC read: the oracle recomputes the fixture's logical rows
    // from the customer table + inline VALUES without ever touching the
    // ORC bytes — any type-mapping defect in the round trip mismatches
    "q271_scan_orc_typed" ->
      """WITH derived AS (
        |  SELECT c_custkey, c_name, c_acctbal, TRUE AS active
        |  FROM customer WHERE c_custkey % 150 = 11),
        |edges AS (SELECT * FROM (VALUES
        |    (9000001, 'caf' || chr(233) || ' row',
        |      CAST('1.5' AS DOUBLE), FALSE),
        |    (9000002, NULL, CAST('-7.25' AS DOUBLE), TRUE),
        |    (9000003, 'zero', CAST('0.0' AS DOUBLE), FALSE),
        |    (9000004, '', CAST(NULL AS DOUBLE), TRUE))
        |  t(c_custkey, c_name, c_acctbal, active)),
        |u AS (SELECT * FROM derived
        |  UNION ALL SELECT * FROM edges)
        |SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_acctbal,
        |  active,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS bal_cents,
        |  CAST(length(coalesce(c_name, '')) AS BIGINT) AS name_len
        |FROM u ORDER BY c_custkey""".stripMargin,

    // typed Avro read: the oracle recomputes the fixture's logical rows
    // from the customer table + inline VALUES without ever touching the
    // Avro bytes — any union(null,T)/codec/encoding defect mismatches
    "q275_scan_avro_typed" ->
      """WITH derived AS (
        |  SELECT c_custkey, c_name, c_acctbal, TRUE AS active
        |  FROM customer WHERE c_custkey % 150 = 13),
        |edges AS (SELECT * FROM (VALUES
        |    (9000001, 'caf' || chr(233) || ' row',
        |      CAST('1.5' AS DOUBLE), FALSE),
        |    (9000002, NULL, CAST('-7.25' AS DOUBLE), TRUE),
        |    (9000003, 'zero', CAST('0.0' AS DOUBLE), FALSE),
        |    (9000004, '', CAST(NULL AS DOUBLE), TRUE))
        |  t(c_custkey, c_name, c_acctbal, active)),
        |u AS (SELECT * FROM derived
        |  UNION ALL SELECT * FROM edges)
        |SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_acctbal,
        |  active,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS bal_cents,
        |  CAST(length(coalesce(c_name, '')) AS BIGINT) AS name_len
        |FROM u ORDER BY c_custkey""".stripMargin,

    "q62_sql_subqueries" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |    SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
        |ORDER BY o_orderkey""".stripMargin,

    "q86_sql_lateral" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o ON true
        |ORDER BY c_custkey, o_orderkey""".stripMargin,

    "q88_sql_recursive" ->
      """WITH RECURSIVE days(d) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL SELECT CAST(d + INTERVAL 1 DAY AS DATE) FROM days
        |  WHERE d < DATE '1995-03-01')
        |SELECT CAST(d AS TIMESTAMP) AS d, count(o.o_orderkey) AS n_orders
        |FROM days LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = days.d
        |GROUP BY d ORDER BY d""".stripMargin,

    "q01_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q02_json_get" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,

    "q03_project_expr" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net,
        |  CASE WHEN l_discount > 0.05 THEN 'HIGH' ELSE 'LOW' END AS disc_class
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q04_filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'
        |  AND l_quantity IN (1,2,3,4,5,10,20,30,40,50)
        |  AND (l_discount BETWEEN 0.02 AND 0.08 OR l_tax < 0.03)
        |  AND NOT (l_returnflag = 'A')
        |  AND l_suppkey IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q04b_filter_like" ->
      """SELECT p_partkey, p_name, p_type, p_size
        |FROM part
        |WHERE (p_name LIKE '%ring%' OR p_type LIKE 'PROM%')
        |  AND p_size IN (1,5,10,15,20,25,30,35,40,45,50)
        |ORDER BY p_partkey""".stripMargin,

    "q05_join_inner" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${sqlDsum("o_totalprice")} AS total_price,
         |  max(o_totalprice) AS max_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q06_join_multiway" ->
      s"""SELECT n_name,
         |  ${sqlDsum("l_extendedprice * (1 - l_discount)", 6)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY n_name ORDER BY revenue DESC NULLS LAST, n_name""".stripMargin,

    "q07_join_outer" ->
      s"""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
         |  coalesce(${sqlDsum("o_totalprice")}, 0.0) AS total_price
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,

    "q08_join_semi" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin,

    "q09_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q10_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q11_join_range" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 300000000
        |ORDER BY a_id, b_id""".stripMargin,

    "q12_join_asof" ->
      """SELECT c.event_id, c.user_id, c.ts, p.ts AS last_purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "q13_agg_hash" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlDsum("l_quantity")} AS sum_qty,
         |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
         |  ${sqlDsum("l_extendedprice * (1 - l_discount)", 6)} AS sum_disc_price,
         |  ${sqlDsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
         |  ${sqlDavg("l_quantity")} AS avg_qty,
         |  ${sqlDavg("l_extendedprice")} AS avg_price,
         |  ${sqlDavg("l_discount", 6)} AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q14_agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  CAST(sum(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_distinct_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q15_agg_rollup" ->
      """SELECT n_name, o_orderpriority, count(*) AS n_orders,
        |  CAST(grouping_id(n_name, o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, o_orderpriority)
        |ORDER BY gid, n_name ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q15b_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q15c_agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q16_agg_global" ->
      s"""SELECT count(*) AS n_rows,
         |  count(DISTINCT l_orderkey) AS n_orders,
         |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
         |  ${sqlDsum("l_quantity")} AS total_qty,
         |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
         |FROM lineitem""".stripMargin,

    // frame ordered by integer epoch-µs with an integer bound — the exact
    // mirror of the Spark side's rangeBetween(-3600·10⁶, currentRow) over
    // epochUs(ts), rather than DuckDB-native INTERVAL arithmetic on ts
    "q65_win_time_range" ->
      """SELECT event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q17_win_rank" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER wu AS BIGINT) AS rn,
        |  CAST(rank() OVER wt AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER wt AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER wu AS BIGINT) AS nt,
        |  percent_rank() OVER wt AS pr
        |FROM orders
        |WINDOW wu AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |       wt AS (PARTITION BY o_custkey ORDER BY o_orderdate)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q18_win_frames" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS slide_avg3,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS cnt_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q59_win_value_fns" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER wf AS first_price,
        |  last_value(o_totalprice) OVER wf AS last_price,
        |  nth_value(o_totalprice, 2) OVER wf AS second_price,
        |  cume_dist() OVER wt AS cd
        |FROM orders
        |WINDOW wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        |       wt AS (PARTITION BY o_custkey ORDER BY o_orderdate)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q61_agg_strings" ->
      """SELECT l_returnflag,
        |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
        |  string_agg(DISTINCT CAST(CAST(floor(l_quantity) AS INTEGER) AS VARCHAR), '|'
        |             ORDER BY CAST(CAST(floor(l_quantity) AS INTEGER) AS VARCHAR)) AS qty_values
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q19_sort_limit" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey LIMIT 100""".stripMargin,

    "q20_topk_group" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC NULLS LAST, o_orderkey) AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q21_set_union" ->
      """SELECT key, count(*) AS n FROM (
        |  SELECT l_partkey AS key FROM lineitem
        |  UNION ALL
        |  SELECT p_partkey AS key FROM part)
        |GROUP BY key ORDER BY key""".stripMargin,

    "q55_join_full" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM (SELECT c_custkey, c_name FROM customer WHERE c_acctbal < 0) c
        |FULL JOIN (SELECT o_custkey, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin,

    "q55b_join_right" ->
      """SELECT p_partkey, count(l_orderkey) AS n_items
        |FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin,

    "q22b_set_all" ->
      """SELECT 'intersect_all' AS op, count(*) AS n FROM (
        |  SELECT l_suppkey AS key FROM lineitem INTERSECT ALL SELECT s_suppkey FROM supplier)
        |UNION ALL
        |SELECT 'except_all' AS op, count(*) AS n FROM (
        |  SELECT l_suppkey AS key FROM lineitem EXCEPT ALL SELECT s_suppkey FROM supplier)
        |ORDER BY op""".stripMargin,

    "q22_set_intersect_except" ->
      """SELECT 'intersect' AS op, count(*) AS n FROM (
        |  SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'except' AS op, count(*) AS n FROM (
        |  SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY op""".stripMargin,

    "q23_fn_string" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up_name,
        |  lower(p_brand) AS lo_brand,
        |  substring(p_name, 1, 5) AS sub5,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  concat_ws('|', p_brand, p_type) AS cat,
        |  regexp_replace(p_type, '[AEIOU]', '*', 'g') AS devowel,
        |  trim('  ' || p_name || '  ') AS trimmed,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS pad8,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
        |  CAST(instr(p_name, 'r') AS BIGINT) AS r_pos,
        |  replace(p_type, 'O', '0') AS repl
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q24_fn_datetime" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mon_start,
        |  CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS plus30,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS eom,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  epoch_ms(o_orderdate) AS ems
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q25_fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(sqrt(l_extendedprice), 3) AS r2,
        |  abs(l_discount - 0.05) AS ad,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        |  pow(l_quantity, 2.0) AS p2,
        |  sqrt(l_extendedprice) AS sq,
        |  ln(l_extendedprice) AS lg,
        |  exp(l_discount) AS ex,
        |  CAST(l_linenumber % 3 AS BIGINT) AS m3,
        |  CAST(sign(l_quantity - 25.0) AS DOUBLE) AS sg,
        |  greatest(l_tax, l_discount) AS gt,
        |  least(l_tax, l_discount) AS lt
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q26_fn_array" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first_elem,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE))), (a, x) -> a + x) AS sum_all,
        |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, x) -> a + x)) AS l2_norm,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        |  CAST(list_sort(embedding)[3] AS DOUBLE) AS third_smallest,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(embedding) + 1), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[len(embedding) + 1 - i] AS DOUBLE))), (a, x) -> a + x) AS rev_dot,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding[5:14], x -> CAST(x AS DOUBLE))), (a, x) -> a + x) AS slice_sum
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q27_fn_json_explode" ->
      """SELECT event_id, k AS prop_key,
        |  CAST(json_extract_string(props, '$.' || k) AS BIGINT) AS prop_val
        |FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events)
        |ORDER BY event_id, prop_key""".stripMargin,

    "q27b_fn_posexplode" ->
      """SELECT doc_id, CAST(g.pos AS BIGINT) AS pos, w[CAST(g.pos AS INTEGER)] AS token
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |     generate_series(1, 5) g(pos)
        |WHERE g.pos <= len(w)
        |ORDER BY doc_id, pos""".stripMargin,

    "q56_fn_levenshtein" ->
      """SELECT p_partkey,
        |  levenshtein(p_name, 'small ring') AS lev,
        |  levenshtein(p_brand, p_type) AS lev_bt
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q57_set_union_by_name" ->
      s"""SELECT key, count(*) AS n,
         |  ${sqlDsum("amount")} AS total
         |FROM (
         |  SELECT o_orderkey AS key, o_totalprice AS amount FROM orders
         |  UNION ALL BY NAME
         |  SELECT l_extendedprice AS amount, l_orderkey AS key FROM lineitem)
         |GROUP BY key ORDER BY key""".stripMargin,

    "q28_fn_conditional" ->
      """SELECT l_orderkey, l_linenumber,
        |  coalesce(nullif(l_returnflag, 'N'), 'none') AS rf,
        |  l_quantity / nullif(l_discount, 0.0) AS ratio,
        |  coalesce(l_quantity / nullif(l_discount, 0.0), -1.0) AS ratio_nvl,
        |  isnan(CASE WHEN l_discount = 0 THEN CAST('NaN' AS DOUBLE) ELSE l_discount END) AS nan_flag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
  )
}
