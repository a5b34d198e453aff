package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational surface: scan → filter/project (pushdown), hash
  * aggregation, multi-way joins with broadcast dims, distinct, top-k,
  * and JSON projection. The reference has no SQL layer (SURVEY.md §2
  * "Joins: none"); these queries are the harness-facing analytical
  * surface every engine needs, expressed declaratively so Catalyst
  * handles pushdown/pruning/join-strategy.
  *
  * Scale notes (100 TB): aggregations are partial (map-side combine is
  * automatic for hash aggs), dimension tables are broadcast explicitly
  * (no shuffle of the fact table beyond the final agg exchange), and
  * every scan projects only the needed columns so parquet column
  * pruning applies.
  *
  * FP determinism: monetary columns are exact 2-decimal values, so
  * every money aggregate is computed on int64 cents (exact,
  * order-independent — double sums are partition-order-dependent and
  * a last-ulp wiggle next to a round() boundary flips digits between
  * engines; see q52's history). Ratios round half-up in pure integer
  * arithmetic: r = (2·num·scale + den) div (2·den).
  */
object Relational {

  import org.apache.spark.sql.Column

  /** x (exact 2-decimal double) → int64 cents. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  val defs: Seq[QueryDef] = Seq(

    // ── Q01: pricing summary (TPC-H Q1 shape): scan → filter → hash
    // agg. disc_price = cents × (100 − disc_cents) in 1e-4 dollars —
    // exact int64 partials, integer half-up back to 2 decimals.
    QueryDef("q01_pricing_summary",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("long").as("qty"),
          cents(col("l_extendedprice")).as("pc"),
          (cents(col("l_extendedprice")) *
            (lit(100L) - cents(col("l_discount")))).as("dp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("qty")).as("sq"), sum(col("pc")).as("spc"),
          sum(col("dp")).as("sdp"), count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sq").cast("double").as("sum_qty"),
          (col("spc").cast("double") / 100.0).as("sum_base_price"),
          (expr("(2 * sdp + 100) div 200").cast("double") / 100.0)
            .as("sum_disc_price"),
          (expr("(2 * sq * 10000 + n) div (2 * n)").cast("double") / 10000.0)
            .as("avg_qty"),
          col("n").as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sq AS DOUBLE) AS sum_qty,
             |  CAST(spc AS DOUBLE) / 100.0 AS sum_base_price,
             |  CAST((2 * sdp + 100) // 200 AS DOUBLE) / 100.0 AS sum_disc_price,
             |  CAST((2 * sq * 10000 + n) // (2 * n) AS DOUBLE) / 10000.0 AS avg_qty,
             |  n AS count_order
             |FROM (
             |  SELECT l_returnflag, l_linestatus,
             |    sum(CAST(l_quantity AS BIGINT)) AS sq,
             |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS spc,
             |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             |        * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS sdp,
             |    count(*) AS n
             |  FROM lineitem
             |  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |  GROUP BY l_returnflag, l_linestatus)
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ── Q02: revenue by nation — fact ⋈ broadcast dims (star join).
    QueryDef("q02_revenue_by_nation",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
        val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        val nat = Tables.nation(s, dir)
        val reg = Tables.region(s, dir)
        li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"), col("n_name"),
            (cents(col("l_extendedprice")) *
              (lit(100L) - cents(col("l_discount")))).as("dp"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(col("dp")).as("sdp"), count(lit(1)).as("n_items"))
          .select(col("r_name"), col("n_name"),
            (expr("(2 * sdp + 100) div 200").cast("double") / 100.0)
              .as("revenue"),
            col("n_items"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name,
             |  CAST((2 * sdp + 100) // 200 AS DOUBLE) / 100.0 AS revenue,
             |  n_items
             |FROM (
             |  SELECT r_name, n_name,
             |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
             |        * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS sdp,
             |    count(*) AS n_items
             |  FROM lineitem
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  JOIN nation ON s_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  GROUP BY r_name, n_name)
             |ORDER BY r_name, n_name""".stripMargin)),

    // ── Q03: top-10 customers by order value — join + agg + top-k.
    QueryDef("q03_top_customers",
      (s, dir) => {
        val o = Tables.orders(s, dir).select(col("o_custkey"), col("o_totalprice"))
        val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
        o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(sum(cents(col("o_totalprice"))).as("sc"),
            count(lit(1)).as("n_orders"))
          .select(col("c_custkey"), col("c_name"),
            (col("sc").cast("double") / 100.0).as("total_spent"),
            col("n_orders"))
          .orderBy(col("total_spent").desc, col("c_custkey"))
          .limit(10)
      },
      Some("""SELECT c_custkey, c_name,
             |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             |    / 100.0 AS total_spent,
             |  count(*) AS n_orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_custkey, c_name
             |ORDER BY total_spent DESC, c_custkey
             |LIMIT 10""".stripMargin)),

    // ── Q04: filter + narrow projection — predicate/column pushdown to
    // the parquet scan (ReadSchema should show exactly 3 columns).
    QueryDef("q04_filter_pushdown",
      (s, dir) => Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 45 &&
          col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity
             |FROM lineitem
             |WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1997-01-01'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ── Q05: distinct aggregation (count distinct per group).
    QueryDef("q05_distinct_parts",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_suppkey) AS n_supps
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ── Q06: JSON projection over the events props column (the
    // reference JSON-parses every Kafka message — op B; here the
    // relational twin: extract a field, aggregate).
    QueryDef("q06_json_extract",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ── Q07: set ops — events of rare types UNION ALL high-value, then
    // EXCEPT a subset; exercises union/except distinct semantics.
    QueryDef("q07_set_ops",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val highVal = e.filter(col("value") > 90).select(col("event_id"))
        val click = e.filter(col("event_type") === "click").select(col("event_id"))
        val purchase = e.filter(col("event_type") === "purchase").select(col("event_id"))
        highVal.union(click).except(purchase)
          .distinct().orderBy(col("event_id"))
      },
      Some("""SELECT DISTINCT event_id FROM (
             |  SELECT event_id FROM events WHERE value > 90
             |  UNION ALL
             |  SELECT event_id FROM events WHERE event_type = 'click')
             |EXCEPT
             |SELECT event_id FROM events WHERE event_type = 'purchase'
             |ORDER BY event_id""".stripMargin)),

    // ── Q09: hierarchical rollup — region ⊃ nation subtotals + grand
    // total in ONE pass (Catalyst expands the grouping sets before the
    // exchange, so partial aggregation still applies per set).
    QueryDef("q09_rollup",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_suppkey"), col("l_extendedprice"))
        val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
        val nat = Tables.nation(s, dir)
        val reg = Tables.region(s, dir)
        li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(sum(cents(col("l_extendedprice"))).as("sc"),
            count(lit(1)).as("n_items"))
          .select(coalesce(col("r_name"), lit("ALL")).as("region"),
            coalesce(col("n_name"), lit("ALL")).as("nation"),
            (col("sc").cast("double") / 100.0).as("total_price"),
            col("n_items"))
          .orderBy(col("region"), col("nation"))
      },
      Some("""SELECT coalesce(r_name, 'ALL') AS region,
             |  coalesce(n_name, 'ALL') AS nation,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             |    / 100.0 AS total_price,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name)
             |ORDER BY region, nation""".stripMargin)),

    // ── Q19: as-of join — each click event joined to the latest
    // purchase of the same user at-or-before its timestamp. Expressed
    // as union + last(ignoreNulls) over an ordered per-key window: ONE
    // shuffle + sort per key, no range-join candidate explosion — the
    // scalable as-of shape (a sort-merge band join would re-scan
    // overlapping ranges; a cross-filter is quadratic). Ties at equal
    // ts resolve purchase-first, then event_id, in both engines.
    QueryDef("q19_asof_join",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_millis(col("ts")).as("ts_ms"))
          .filter(col("event_type").isin("click", "purchase"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts_ms"),
            when(col("event_type") === "purchase", 0).otherwise(1),
            col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        e.withColumn("purchase_ts",
            last(when(col("event_type") === "purchase", col("ts_ms")), true).over(w))
          .withColumn("purchase_id",
            last(when(col("event_type") === "purchase", col("event_id")), true).over(w))
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts_ms").as("click_ts"),
            col("purchase_id"), col("purchase_ts"),
            (col("ts_ms") - col("purchase_ts")).as("ms_since_purchase"))
          .orderBy(col("user_id"), col("click_ts"), col("click_id"))
      },
      Some("""WITH tagged AS (
             |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |w AS (
             |  SELECT *,
             |    last_value(CASE WHEN event_type = 'purchase' THEN ts_ms END
             |      IGNORE NULLS) OVER (PARTITION BY user_id
             |      ORDER BY ts_ms, CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_ts,
             |    last_value(CASE WHEN event_type = 'purchase' THEN event_id END
             |      IGNORE NULLS) OVER (PARTITION BY user_id
             |      ORDER BY ts_ms, CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_id
             |  FROM tagged)
             |SELECT user_id, event_id AS click_id, ts_ms AS click_ts,
             |  purchase_id, purchase_ts,
             |  ts_ms - purchase_ts AS ms_since_purchase
             |FROM w WHERE event_type = 'click'
             |ORDER BY user_id, click_ts, click_id""".stripMargin)),

    // ── Q24: banded range join — (click, purchase) pairs of the same
    // user within ±1 h. The scalable plan: coarse 1 h time buckets
    // become EQUI-join keys (each click probes its own + both neighbor
    // buckets via a 3-element explode; each purchase sits in exactly
    // one bucket, so no pair duplicates), then the exact |Δt| filter.
    // A naive theta join on the range predicate degenerates to
    // per-user cross products; the band join's candidate set is only
    // pairs within ±2 h.
    QueryDef("q24_range_join",
      (s, dir) => {
        val BAND = 3600000L
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_millis(col("ts")).as("ts_ms"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts_ms").as("click_ts"),
            explode(array(
              (col("ts_ms") / BAND).cast("long") - 1,
              (col("ts_ms") / BAND).cast("long"),
              (col("ts_ms") / BAND).cast("long") + 1)).as("probe_bucket"))
        val purch = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"),
            col("event_id").as("purchase_id"),
            col("ts_ms").as("purchase_ts"),
            (col("ts_ms") / BAND).cast("long").as("p_bucket"))
        clicks.join(purch,
            col("user_id") === col("p_user") &&
              col("probe_bucket") === col("p_bucket"))
          .filter(abs(col("click_ts") - col("purchase_ts")) <= BAND)
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            (col("click_ts") - col("purchase_ts")).as("delta_ms"))
          .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
      },
      Some("""SELECT c.user_id, c.event_id AS click_id,
             |  p.event_id AS purchase_id,
             |  epoch_ms(c.ts) - epoch_ms(p.ts) AS delta_ms
             |FROM events c JOIN events p
             |  ON c.user_id = p.user_id
             | AND c.event_type = 'click' AND p.event_type = 'purchase'
             | AND abs(epoch_ms(c.ts) - epoch_ms(p.ts)) <= 3600000
             |ORDER BY c.user_id, click_id, purchase_id""".stripMargin)),

    // ── Q36: session windows — events of a user chain into one session
    // while gaps stay under 30 min (built-in session_window; state at
    // scale is one open session per key, merged on the single
    // group-by exchange). Oracle: the lag-gap / cumulative-break
    // formulation (a new session starts when the gap is ≥ the timeout,
    // matching session_window's [start, last+gap) close semantics).
    QueryDef("q36_sessions",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_millis(col("session_window.start")).as("session_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
             |         WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER w)
             |              >= 1800000 THEN 1
             |         ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |sess AS (
             |  SELECT user_id, ts,
             |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM g)
             |SELECT user_id, min(epoch_ms(ts)) AS session_start,
             |  count(*) AS n_events
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // ── Q26: explicit grouping sets — (type), (user), and () totals in
    // one pass over events (complements q09's rollup; exercises the
    // general grouping-sets expansion rather than the hierarchy).
    QueryDef("q26_grouping_sets",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events_gs")
        s.sql("""SELECT coalesce(event_type, 'ALL') AS etype,
                |  coalesce(CAST(user_id AS STRING), 'ALL') AS uid,
                |  count(*) AS n,
                |  CAST(sum(CAST(round(CASE WHEN isnan(value) THEN NULL
                |    ELSE value END * 100) AS BIGINT)) AS DOUBLE)
                |    / 100.0 AS total_value
                |FROM events_gs
                |GROUP BY GROUPING SETS ((event_type), (user_id), ())
                |ORDER BY etype, uid""".stripMargin)
      },
      Some("""SELECT coalesce(event_type, 'ALL') AS etype,
             |  coalesce(CAST(user_id AS VARCHAR), 'ALL') AS uid,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(CASE WHEN isnan(value) THEN NULL
             |    ELSE value END * 100) AS BIGINT)) AS DOUBLE)
             |    / 100.0 AS total_value
             |FROM events
             |GROUP BY GROUPING SETS ((event_type), (user_id), ())
             |ORDER BY etype, uid""".stripMargin)),

    // ── Q25: salted shuffle join — each event annotated with its
    // user's event count via Skew.saltedJoin (hot user_ids spread over
    // 8 shuffle keys; semantics identical to the plain join the oracle
    // runs). AQE skew-split is the runtime fallback; this is the
    // known-skew explicit plan.
    QueryDef("q25_salted_join",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"))
        val counts = e.groupBy(col("user_id"))
          .agg(count(lit(1)).as("user_events"))
        Skew.saltedJoin(e, counts, "user_id", 8)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("user_events"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT e.user_id, e.event_id, e.event_type, c.user_events
             |FROM events e JOIN (
             |  SELECT user_id, count(*) AS user_events
             |  FROM events GROUP BY user_id) c
             |  ON e.user_id = c.user_id
             |ORDER BY e.user_id, e.event_id""".stripMargin)),

    // ── Q37: pivot — per-user event counts spread into one column per
    // event type (Spark .pivot with EXPLICIT values: never let the
    // engine scan for distinct pivot keys at 100 TB). Pivot leaves
    // null for absent combinations; coalesced to 0 to match the
    // conditional-aggregation desugaring the oracle runs.
    QueryDef("q37_pivot",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("view"), lit(0L)).as("view"),
          coalesce(col("purchase"), lit(0L)).as("purchase"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id,
             |  count(*) FILTER (WHERE event_type = 'click') AS click,
             |  count(*) FILTER (WHERE event_type = 'view') AS view,
             |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ── Q38: approximate percentiles — a 1024-bin equi-width integer
    // histogram over exact cents estimates p50/p95/p99 per event type
    // (bin-midpoint rule), the bounded-memory one-pass quantile shape
    // a 100 TB scan needs: one map-side-combinable (type, bin)
    // exchange over a bounded domain, then a ≤1024-row-per-type
    // cumulative window — an exact percentile would need a full sort
    // (q64 is that exact twin; q111 measures this histogram's error
    // curve). Rounds 1-7 used percentile_approx, whose KLL-ish sketch
    // internals are engine-specific (rows-only check); the integer
    // histogram is replayed bit-for-bit by DuckDB, upgrading q38 to a
    // full oracle.
    QueryDef("q38_approx_percentiles",
      (s, dir) => {
        val base = Tables.events(s, dir)
          // the percentile domain is the VALUED rows: NULL carries no
          // value and NaN cannot be binned (ANSI CAST(NaN AS BIGINT)
          // throws — EdgeCaseEventsSpec pins this); both engines drop
          // them identically
          .filter(col("value").isNotNull && !isnan(col("value")))
          .select(col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("v"))
        val bounds = base.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        val hist = base.crossJoin(broadcast(bounds))
          .withColumn("w", expr("(mx - mn) div 1024 + 1"))
          .withColumn("bin", expr("(v - mn) div w"))
          .groupBy(col("event_type"), col("bin"))
          .agg(count(lit(1)).as("c"),
            first(col("mn")).as("mn"), first(col("w")).as("w"))
        val wB = Window.partitionBy(col("event_type")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wT = Window.partitionBy(col("event_type"))
        val cum = hist
          .withColumn("cumc", sum(col("c")).over(wB))
          .withColumn("n", sum(col("c")).over(wT))
        def est(q: Int) = min(when(col("cumc") * 100 >= col("n") * q,
          expr("mn + bin * w + w div 2")))
        cum.groupBy(col("event_type"))
          .agg(first(col("n")).as("n"), first(col("w")).as("bin_w"),
            est(50).as("p50_cents"), est(95).as("p95_cents"),
            est(99).as("p99_cents"))
          .orderBy(col("event_type"))
      },
      Some("""WITH base AS (
             |  SELECT event_type,
             |    CAST(round(value * 100) AS BIGINT) AS v
             |  FROM events
             |  WHERE value IS NOT NULL AND NOT isnan(value)),
             |b AS (SELECT min(v) AS mn, max(v) AS mx FROM base),
             |binned AS (
             |  SELECT event_type, v, mn, (mx - mn) // 1024 + 1 AS w,
             |    (v - mn) // ((mx - mn) // 1024 + 1) AS bin
             |  FROM base CROSS JOIN b),
             |hist AS (
             |  SELECT event_type, bin, count(*) AS c, any_value(mn) AS mn,
             |    any_value(w) AS w
             |  FROM binned GROUP BY event_type, bin),
             |cum AS (
             |  SELECT event_type, bin, c, mn, w,
             |    sum(c) OVER (PARTITION BY event_type ORDER BY bin
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cumc,
             |    sum(c) OVER (PARTITION BY event_type) AS n
             |  FROM hist)
             |SELECT event_type, CAST(any_value(n) AS BIGINT) AS n,
             |  CAST(any_value(w) AS BIGINT) AS bin_w,
             |  CAST(min(CASE WHEN cumc * 100 >= n * 50
             |    THEN mn + bin * w + w // 2 END) AS BIGINT) AS p50_cents,
             |  CAST(min(CASE WHEN cumc * 100 >= n * 95
             |    THEN mn + bin * w + w // 2 END) AS BIGINT) AS p95_cents,
             |  CAST(min(CASE WHEN cumc * 100 >= n * 99
             |    THEN mn + bin * w + w // 2 END) AS BIGINT) AS p99_cents
             |FROM cum GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ── Q38b (q64): EXACT percentiles via percentile_disc — the
    // oracle-checkable twin of q38. PERCENTILE_DISC returns an actual
    // element of the data (smallest value whose cumulative
    // distribution ≥ p), so unlike interpolating percentiles there is
    // NO floating-point arithmetic to drift across engines — the
    // result is a value both engines read verbatim from parquet.
    // DuckDB's quantile_disc implements the same definition.
    QueryDef("q64_exact_percentiles",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events_pd")
        s.sql("""SELECT event_type,
                |  percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
                |  percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS p95,
                |  percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS p99,
                |  count(*) AS n
                |FROM events_pd GROUP BY event_type
                |ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type,
             |  quantile_disc(value, 0.5) AS p50,
             |  quantile_disc(value, 0.95) AS p95,
             |  quantile_disc(value, 0.99) AS p99,
             |  count(*) AS n
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ── Q39: scalar + correlated subqueries — customers spending above
    // the global mean, with their order count from a correlated
    // subquery. Written as SQL subqueries on purpose: Catalyst
    // decorrelates the inner query into a join + aggregate (the plan
    // must not execute per-row) — exactly what a 100 TB engine needs
    // from its optimizer. Monetary sums ride int64 cents as everywhere.
    QueryDef("q39_subqueries",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders_sq")
        Tables.customer(s, dir).createOrReplaceTempView("customer_sq")
        s.sql("""SELECT c_custkey,
                |  (SELECT count(*) FROM orders_sq o
                |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
                |  CAST((SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
                |        FROM orders_sq o WHERE o.o_custkey = c.c_custkey)
                |    AS DOUBLE) / 100.0 AS spent
                |FROM customer_sq c
                |WHERE (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
                |       FROM orders_sq o WHERE o.o_custkey = c.c_custkey)
                |  > (SELECT avg(total) FROM (
                |       SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total
                |       FROM orders_sq GROUP BY o_custkey))
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey,
             |  (SELECT count(*) FROM orders o
             |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
             |  CAST((SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |        FROM orders o WHERE o.o_custkey = c.c_custkey)
             |    AS DOUBLE) / 100.0 AS spent
             |FROM customer c
             |WHERE (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
             |       FROM orders o WHERE o.o_custkey = c.c_custkey)
             |  > (SELECT avg(total) FROM (
             |       SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total
             |       FROM orders GROUP BY o_custkey))
             |ORDER BY c_custkey""".stripMargin)),

    // ── Q08: semi/anti joins — customers with and without orders.
    QueryDef("q08_semi_anti",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir).select(col("o_custkey"))
        val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), lit(1L).as("has_orders"))
        val without = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), lit(0L).as("has_orders"))
        withO.union(without).orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, CAST(1 AS BIGINT) AS has_orders FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders)
             |UNION ALL
             |SELECT c_custkey, CAST(0 AS BIGINT) AS has_orders FROM customer
             |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
             |ORDER BY c_custkey""".stripMargin)),

    // ── Q70: funnel conversion — per-user ORDERED event progression
    // view → click → purchase: each step's time is the earliest
    // occurrence STRICTLY AFTER the previous step completed (the
    // behavioral-analytics sequence op; q36's sessions slice time,
    // this slices causality). Shape: K sequential user-keyed
    // conditional-min aggregations for a K-step funnel — every
    // groupBy/join shuffles on the same user_id key, so the chain
    // co-partitions after the first exchange and no per-user event
    // sort ever happens. Steps compare at epoch-ms precision in both
    // engines (positive nanos truncate identically — the q36
    // convention), so the min chain and NULL depths are engine-exact.
    QueryDef("q70_funnel_conversion",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_millis(col("ts")).as("ms"))
        val tv = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ms")).as("tv"))
        val tc = ev.filter(col("event_type") === "click")
          .join(tv, "user_id").filter(col("ms") > col("tv"))
          .groupBy(col("user_id")).agg(min(col("ms")).as("tc"))
        val tp = ev.filter(col("event_type") === "purchase")
          .join(tc, "user_id").filter(col("ms") > col("tc"))
          .groupBy(col("user_id")).agg(min(col("ms")).as("tp"))
        ev.select(col("user_id")).distinct()
          .join(tv, Seq("user_id"), "left")
          .join(tc, Seq("user_id"), "left")
          .join(tp, Seq("user_id"), "left")
          .select(col("user_id"),
            when(col("tp").isNotNull, 3L)
              .when(col("tc").isNotNull, 2L)
              .when(col("tv").isNotNull, 1L)
              .otherwise(0L).as("depth"),
            col("tv"), col("tc"), col("tp"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
             |tv AS (
             |  SELECT user_id, min(ms) AS tv FROM ev
             |  WHERE event_type = 'view' GROUP BY user_id),
             |tc AS (
             |  SELECT e.user_id, min(e.ms) AS tc
             |  FROM ev e JOIN tv ON tv.user_id = e.user_id
             |  WHERE e.event_type = 'click' AND e.ms > tv.tv
             |  GROUP BY e.user_id),
             |tp AS (
             |  SELECT e.user_id, min(e.ms) AS tp
             |  FROM ev e JOIN tc ON tc.user_id = e.user_id
             |  WHERE e.event_type = 'purchase' AND e.ms > tc.tc
             |  GROUP BY e.user_id),
             |u AS (SELECT DISTINCT user_id FROM ev)
             |SELECT u.user_id,
             |  CAST(CASE WHEN tp.tp IS NOT NULL THEN 3
             |            WHEN tc.tc IS NOT NULL THEN 2
             |            WHEN tv.tv IS NOT NULL THEN 1
             |            ELSE 0 END AS BIGINT) AS depth,
             |  tv.tv, tc.tc, tp.tp
             |FROM u
             |LEFT JOIN tv USING (user_id)
             |LEFT JOIN tc USING (user_id)
             |LEFT JOIN tp USING (user_id)
             |ORDER BY u.user_id""".stripMargin)),

    // ── Q105: ACQUISITION-COHORT RETENTION — the product-analytics
    // staple (complements q70's funnel and q36's sessions): users
    // cohorted by their FIRST event's type (deterministic first =
    // row_number over (ts, event_id) — ts alone can tie), then weekly
    // active retention per cohort: distinct (user, weeks-since-first)
    // grid → n_active / cohort size in half-up ppm. Day and week
    // indexes are exact integer epoch arithmetic (epoch_ms div
    // 86400000, delta div 7) — no date-truncation function whose
    // week-start convention could differ between engines.
    //
    // 100 TB shape: ONE shuffle by user_id serves everything — both
    // windows (first-event rank, min day) share the partition, and the
    // cohort-label join probes the same exchange's output (the q83
    // exchange-reuse argument); the distinct grid is users × weeks
    // (bounded), and the cohort-size join is a broadcast of one row
    // per cohort.
    QueryDef("q105_retention_cohorts",
      (s, dir) => {
        val wU = Window.partitionBy(col("user_id"))
        val f = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("ts"), expr("unix_millis(ts) div 86400000").as("day"))
          .withColumn("day0", min(col("day")).over(wU))
          .withColumn("rn", row_number().over(
            wU.orderBy(col("ts"), col("event_id"))))
        val coh = f.filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("cohort"))
        val act = f.join(coh, Seq("user_id"))
          .select(col("user_id"), col("cohort"),
            expr("(day - day0) div 7").as("weeks_since"))
          .distinct()
          .groupBy(col("cohort"), col("weeks_since"))
          .agg(count(lit(1)).as("n_active"))
        val cs = act.filter(col("weeks_since") === 0)
          .select(col("cohort"), col("n_active").as("cohort_n"))
        act.join(broadcast(cs), Seq("cohort"))
          .select(col("cohort"), col("weeks_since"), col("n_active"),
            col("cohort_n"),
            expr("(2 * n_active * 1000000 + cohort_n) div (2 * cohort_n)")
              .as("retained_ppm"))
          .orderBy(col("cohort"), col("weeks_since"))
      },
      Some("""WITH d AS (
             |  SELECT user_id, event_type, event_id,
             |    epoch_ms(ts) // 86400000 AS day, ts FROM events),
             |f AS (
             |  SELECT user_id, event_type, day,
             |    min(day) OVER (PARTITION BY user_id) AS day0,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS rn
             |  FROM d),
             |coh AS (SELECT user_id, event_type AS cohort FROM f
             |  WHERE rn = 1),
             |uw AS (
             |  SELECT DISTINCT f.user_id, c.cohort,
             |    (f.day - f.day0) // 7 AS weeks_since
             |  FROM f JOIN coh c USING (user_id)),
             |act AS (
             |  SELECT cohort, weeks_since, count(*) AS n_active
             |  FROM uw GROUP BY cohort, weeks_since),
             |cs AS (SELECT cohort, n_active AS cohort_n FROM act
             |  WHERE weeks_since = 0)
             |SELECT a.cohort, a.weeks_since, a.n_active, c.cohort_n,
             |  CAST((2 * a.n_active * 1000000 + c.cohort_n)
             |    // (2 * c.cohort_n) AS BIGINT) AS retained_ppm
             |FROM act a JOIN cs c USING (cohort)
             |ORDER BY a.cohort, a.weeks_since""".stripMargin)),

    // ── Q106: EVENT-TRANSITION MATRIX — the Markov-chain view of user
    // behavior (next-event counts and probabilities per current event
    // type): `lead` over each user's (ts, event_id)-ordered stream,
    // then one bounded-domain aggregate. The per-type probability is
    // exact half-up ppm over the transition row's own total.
    //
    // 100 TB shape: one shuffle by user_id for the lead window (local
    // per-user sorts only), then the transition table is |types|²
    // (bounded) — the totals join is a broadcast of |types| rows. The
    // sequence-mining primitive behind session-path and next-action
    // models, with no per-user collect anywhere.
    QueryDef("q106_event_transitions",
      (s, dir) => {
        val nx = Tables.events(s, dir)
          .select(col("user_id"), col("event_type").as("cur"),
            col("ts"), col("event_id"))
          .withColumn("nxt", lead(col("cur"), 1).over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))))
          .filter(col("nxt").isNotNull)
        val tr = nx.groupBy(col("cur"), col("nxt"))
          .agg(count(lit(1)).as("n"))
        val tot = tr.groupBy(col("cur")).agg(sum(col("n")).as("tn"))
        tr.join(broadcast(tot), Seq("cur"))
          .select(col("cur"), col("nxt"), col("n"),
            expr("(2 * n * 1000000 + tn) div (2 * tn)").as("p_ppm"))
          .orderBy(col("cur"), col("nxt"))
      },
      Some("""WITH nx AS (
             |  SELECT user_id, event_type AS cur,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS nxt
             |  FROM events),
             |tr AS (
             |  SELECT cur, nxt, count(*) AS n FROM nx
             |  WHERE nxt IS NOT NULL GROUP BY cur, nxt),
             |tot AS (SELECT cur, sum(n) AS tn FROM tr GROUP BY cur)
             |SELECT t.cur, t.nxt, CAST(t.n AS BIGINT) AS n,
             |  CAST((2 * t.n * 1000000 + o.tn) // (2 * o.tn) AS BIGINT)
             |    AS p_ppm
             |FROM tr t JOIN tot o USING (cur)
             |ORDER BY t.cur, t.nxt""".stripMargin)),

    // ── Q113: SESSION-GAP TIMEOUT SWEEP — the inactivity-timeout
    // tuning knob behind q36's fixed 30 minutes: session count, bounce
    // rate (single-event sessions), and events-per-session at gap
    // limits of 5 min / 30 min / 2 h, in ONE query (the q107/q110
    // sweep philosophy: one expensive pass, N cheap re-reads). The
    // per-user lag runs ONCE on the single user_id exchange; the three
    // sweep points fan out after it, and the session-id cumsum, the
    // per-session rollup, and the sweep both cluster on user_id — no
    // further data exchange, only the final 3-row rollup reshuffles.
    // All windows order by (ts, event_id) so tied timestamps cannot
    // flip session boundaries between engines or partitionings.
    QueryDef("q113_session_gap_sweep",
      (s, dir) => {
        val wU = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("gap_ms",
            unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(wU)))
          .select(col("user_id"), col("ts"), col("event_id"), col("gap_ms"),
            explode(array(lit(300000L), lit(1800000L), lit(7200000L)))
              .as("gap_limit_ms"))
          .withColumn("brk",
            when(col("gap_ms").isNull ||
              col("gap_ms") >= col("gap_limit_ms"), 1L).otherwise(0L))
        val wS = Window
          .partitionBy(col("gap_limit_ms"), col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        ev.withColumn("sid", sum(col("brk")).over(wS))
          .groupBy(col("gap_limit_ms"), col("user_id"), col("sid"))
          .agg(count(lit(1)).as("n_ev"))
          .groupBy(col("gap_limit_ms"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n_ev")).as("n_events"),
            sum(when(col("n_ev") === 1, 1L).otherwise(0L))
              .as("single_event_sessions"),
            max(col("n_ev")).as("max_session_events"))
          .withColumn("events_per_session_ppm",
            expr("(2 * n_events * 1000000 + n_sessions)"
              + " div (2 * n_sessions)"))
          .withColumn("bounce_ppm",
            expr("(2 * single_event_sessions * 1000000 + n_sessions)"
              + " div (2 * n_sessions)"))
          .orderBy(col("gap_limit_ms"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id,
             |    epoch_ms(ts) - epoch_ms(lag(ts) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
             |  FROM events),
             |ls AS (SELECT CAST(unnest([300000, 1800000, 7200000])
             |  AS BIGINT) AS gap_limit_ms),
             |fan AS (
             |  SELECT l.gap_limit_ms, g.user_id, g.ts, g.event_id,
             |    CASE WHEN g.gap_ms IS NULL OR g.gap_ms >= l.gap_limit_ms
             |      THEN 1 ELSE 0 END AS brk
             |  FROM g CROSS JOIN ls l),
             |sess AS (
             |  SELECT gap_limit_ms, user_id,
             |    sum(brk) OVER (PARTITION BY gap_limit_ms, user_id
             |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM fan),
             |per AS (
             |  SELECT gap_limit_ms, user_id, sid, count(*) AS n_ev
             |  FROM sess GROUP BY gap_limit_ms, user_id, sid)
             |SELECT gap_limit_ms, count(*) AS n_sessions,
             |  CAST(sum(n_ev) AS BIGINT) AS n_events,
             |  CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS single_event_sessions,
             |  CAST(max(n_ev) AS BIGINT) AS max_session_events,
             |  CAST((2 * sum(n_ev) * 1000000 + count(*)) // (2 * count(*))
             |    AS BIGINT) AS events_per_session_ppm,
             |  CAST((2 * sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)
             |        * 1000000 + count(*)) // (2 * count(*)) AS BIGINT)
             |    AS bounce_ppm
             |FROM per GROUP BY gap_limit_ms
             |ORDER BY gap_limit_ms""".stripMargin)),

    // ── Q116: ROBUST OUTLIERS VIA MAD — per event type, the median /
    // median-absolute-deviation robust z-score (Hampel's rule at 5
    // MADs), entirely in exact integer cents: both order statistics
    // use the q111 explicit-rank convention (min value whose
    // row_number reaches ceil(n/2)) so neither engine's percentile
    // built-in rank conventions can diverge, and the outlier cut
    // |v − med| > 5·mad is a pure integer comparison. The 2-column
    // (type, cents) scan projection feeds the median pass, the
    // deviation pass, and the outlier count; the per-type
    // medians/MADs broadcast back (|types| rows). At 100 TB the two
    // per-type sorts are the honest cost of EXACT robust statistics —
    // the q111 histogram estimates are the approximation this audits.
    QueryDef("q116_mad_outliers",
      (s, dir) => {
        val base = Tables.events(s, dir)
          // valued rows only — q38's NaN/NULL rationale
          .filter(col("value").isNotNull && !isnan(col("value")))
          .select(col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("v"))
        val wT = Window.partitionBy(col("event_type"))
        def orderStat(df: org.apache.spark.sql.DataFrame, c: String) =
          df.withColumn("rn", row_number().over(
              Window.partitionBy(col("event_type")).orderBy(col(c))))
            .withColumn("n", count(lit(1)).over(wT))
            .groupBy(col("event_type"))
            .agg(min(when(col("rn") * 100 >= col("n") * 50, col(c)))
              .as(s"med_$c"))
        val med = orderStat(base, "v")
          .withColumnRenamed("med_v", "med_cents")
        val dev = base.join(broadcast(med), "event_type")
          .withColumn("d", abs(col("v") - col("med_cents")))
        val mad = orderStat(dev.select(col("event_type"), col("d")), "d")
          .withColumnRenamed("med_d", "mad_cents")
        dev.join(broadcast(mad), "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            first(col("med_cents")).as("med_cents"),
            first(col("mad_cents")).as("mad_cents"),
            sum(when(col("d") > lit(5L) * col("mad_cents"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .withColumn("outlier_ppm",
            expr("(2 * n_outliers * 1000000 + n) div (2 * n)"))
          .orderBy(col("event_type"))
      },
      Some("""WITH base AS (
             |  SELECT event_type,
             |    CAST(round(value * 100) AS BIGINT) AS v
             |  FROM events
             |  WHERE value IS NOT NULL AND NOT isnan(value)),
             |r1 AS (
             |  SELECT event_type, v,
             |    row_number() OVER (PARTITION BY event_type ORDER BY v)
             |      AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM base),
             |med AS (
             |  SELECT event_type,
             |    min(CASE WHEN rn * 100 >= n * 50 THEN v END) AS med_cents
             |  FROM r1 GROUP BY event_type),
             |dev AS (
             |  SELECT b.event_type, abs(b.v - m.med_cents) AS d,
             |    m.med_cents
             |  FROM base b JOIN med m USING (event_type)),
             |r2 AS (
             |  SELECT event_type, d,
             |    row_number() OVER (PARTITION BY event_type ORDER BY d)
             |      AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS n
             |  FROM dev),
             |mad AS (
             |  SELECT event_type,
             |    min(CASE WHEN rn * 100 >= n * 50 THEN d END) AS mad_cents
             |  FROM r2 GROUP BY event_type)
             |SELECT d.event_type, count(*) AS n,
             |  CAST(any_value(d.med_cents) AS BIGINT) AS med_cents,
             |  CAST(any_value(a.mad_cents) AS BIGINT) AS mad_cents,
             |  CAST(sum(CASE WHEN d.d > 5 * a.mad_cents THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_outliers,
             |  CAST((2 * sum(CASE WHEN d.d > 5 * a.mad_cents
             |        THEN 1 ELSE 0 END) * 1000000 + count(*))
             |    // (2 * count(*)) AS BIGINT) AS outlier_ppm
             |FROM dev d JOIN mad a USING (event_type)
             |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)),

    // ── Q117: TIME-DECAYED POPULARITY — per-type event share under
    // exponential decay with a 1-day half-life, in EXACT rational
    // arithmetic: weight(age) = 2^(30−age_days) (ages capped at 30, a
    // shared denominator of 2^30), so the decayed numerators are exact
    // integers both engines replay — no libm exp() whose last ulp
    // differs. The trending-vs-total contrast (decayed share next to
    // the plain share) is the standard recency-ranking signal; at
    // 100 TB this is ONE map-side-combinable groupBy over (type) with
    // the 1-row max-day broadcast back onto the scan — the decay never
    // re-buckets or re-scans.
    QueryDef("q117_decayed_popularity",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_type"),
            expr("unix_millis(ts) div 86400000").as("day"))
        val mx = ev.agg(max(col("day")).as("max_day"))
        val per = ev.crossJoin(broadcast(mx))
          .withColumn("age", least(col("max_day") - col("day"), lit(30L)))
          .withColumn("w",
            expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - age AS INT))"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            // the weights are up to 2^30 each: a plain BIGINT sum wraps
            // past ~8.6e9 events — in scope at 100 TB — so the sum runs
            // in DECIMAL(38,0) (DuckDB's HUGEINT sum is exact already)
            sum(col("w").cast("decimal(38,0)")).as("decayed_num"))
        val tot = per.agg(sum(col("n_events")).as("tn"),
          sum(col("decayed_num")).as("td"))
        per.crossJoin(broadcast(tot))
          .select(col("event_type"), col("n_events"),
            expr("(2 * CAST(n_events AS DECIMAL(38,0)) * 1000000 + tn)"
              + " div (2 * CAST(tn AS DECIMAL(38,0)))").cast("long")
              .as("plain_share_ppm"),
            col("decayed_num").cast("long").as("decayed_num"),
            expr("(2 * CAST(decayed_num AS DECIMAL(38,0)) * 1000000 + td)"
              + " div (2 * CAST(td AS DECIMAL(38,0)))").cast("long")
              .as("decayed_share_ppm"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type, epoch_ms(ts) // 86400000 AS day
             |  FROM events),
             |mx AS (SELECT max(day) AS max_day FROM ev),
             |per AS (
             |  SELECT event_type, count(*) AS n_events,
             |    sum(CAST(1 AS BIGINT)
             |      << CAST(30 - least(max_day - day, 30) AS INT))
             |      AS decayed_num
             |  FROM ev CROSS JOIN mx
             |  GROUP BY event_type),
             |tot AS (SELECT sum(n_events) AS tn, sum(decayed_num) AS td
             |  FROM per)
             |SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
             |  CAST((2 * n_events * 1000000 + tn) // (2 * tn) AS BIGINT)
             |    AS plain_share_ppm,
             |  CAST(decayed_num AS BIGINT) AS decayed_num,
             |  CAST((2 * decayed_num * 1000000 + td) // (2 * td) AS BIGINT)
             |    AS decayed_share_ppm
             |FROM per CROSS JOIN tot
             |ORDER BY event_type""".stripMargin)),

    // ── Q118: PAGERANK over the event-transition graph — the second
    // iterative-algorithm family beside the q63 connected-components
    // fixpoint: 3 power-iteration steps of PageRank (d = 0.85) on the
    // q106 Markov graph, in DETERMINISTIC integer-ppm arithmetic. Each
    // step is fully specified integer math — per-edge contribution
    // (r·n) div out, then r' = 15·10⁶ div (100·N) + (85·Σ) div 100 —
    // so both engines replay the identical rounded fixpoint and the
    // result is partition-order-independent (no FP accumulation
    // order). At 100 TB the corpus-scale work is the ONE lead-window
    // edge aggregation (q106's exchange); the iterations run on the
    // bounded |types|² transition table with the rank vector broadcast
    // — the standard shape for iterating on a contracted graph.
    QueryDef("q118_transition_pagerank",
      (s, dir) => {
        val nx = Tables.events(s, dir)
          .select(col("user_id"), col("event_type").as("cur"),
            col("ts"), col("event_id"))
          .withColumn("nxt", lead(col("cur"), 1).over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))))
          .filter(col("nxt").isNotNull)
        val tr = nx.groupBy(col("cur"), col("nxt"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint()
        val edges = tr.join(broadcast(
          tr.groupBy(col("cur")).agg(sum(col("n")).as("out_n"))), "cur")
        // The contracted graph is BOUNDED (≤ |types|² edges at any
        // corpus size), so it folds to ONE row of edge structs — the
        // same bounded-state argument as the q63 CC fast path — and
        // all three power steps run as chained Projects over that row
        // in a single whole-stage-codegen stage: zero per-iteration
        // joins, exchanges, or broadcast builds (round 8: the loop
        // used to rebuild nodes⨯nn and re-broadcast the rank vector
        // every step — 3.6 s of scheduling for 25 rows of math).
        val g = edges
          .agg(sort_array(collect_list(struct(col("cur"), col("nxt"),
            col("n"), col("out_n")))).as("es"))
          .withColumn("nodes", sort_array(array_distinct(concat(
            expr("transform(es, e -> e.cur)"),
            expr("transform(es, e -> e.nxt)")))))
          .withColumn("nN", size(col("nodes")).cast("long"))
        // rank(v) ← base + 85% of Σ_{e: e.nxt=v} rank(e.cur)·n/out_n —
        // exactly the join-form arithmetic, per-element in-array.
        def step(prev: String, i: Int): String =
          s"transform(nodes, v$i -> (1000000 * 15) div (100 * nN)" +
            s" + (85 * aggregate(filter(es, e$i -> e$i.nxt = v$i)," +
            s" CAST(0 AS BIGINT), (a$i, f$i) -> a$i + (element_at($prev," +
            s" CAST(array_position(nodes, f$i.cur) AS INT)) * f$i.n)" +
            s" div f$i.out_n)) div 100)"
        // Each intermediate rank array is LET-BOUND via the
        // transform-over-singleton idiom (`element_at(transform(
        // array(X), x -> body), 1)` evaluates X once and binds it):
        // chained withColumns would be CollapseProject-inlined into
        // one nested expression whose element_at(prevR, ·) re-derives
        // the whole previous array PER EDGE — (N·E)^steps blow-up —
        // while a bound lambda attribute is an O(1) lookup, keeping
        // the three steps at 3·N·E total inside one Project.
        val r = g.withColumn("r", expr(
          "element_at(transform(array(transform(nodes," +
            " z -> CAST(1000000 div nN AS BIGINT))), r0 -> " +
            s"element_at(transform(array(${step("r0", 1)}), r1 -> " +
            s"element_at(transform(array(${step("r1", 2)}), r2 -> " +
            s"${step("r2", 3)}), 1)), 1)), 1)"))
        val degs = edges.groupBy(col("cur")).agg(
          first(col("out_n")).as("out_n"), count(lit(1)).as("n_out_edges"))
        r.select(explode(arrays_zip(col("nodes"), col("r"))).as("z"))
          .select(col("z.nodes").as("event_type"), col("z.r").as("pr_ppm"))
          .join(broadcast(degs.withColumnRenamed("cur", "event_type")),
            Seq("event_type"), "left")
          .na.fill(0L, Seq("out_n", "n_out_edges"))
          .orderBy(col("pr_ppm").desc, col("event_type"))
      },
      Some("""WITH nx AS (
             |  SELECT event_type AS cur,
             |    lead(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS nxt
             |  FROM events),
             |tr AS (
             |  SELECT cur, nxt, count(*) AS n FROM nx
             |  WHERE nxt IS NOT NULL GROUP BY cur, nxt),
             |tot AS (SELECT cur, sum(n) AS out_n FROM tr GROUP BY cur),
             |edges AS (
             |  SELECT t.cur, t.nxt, t.n, o.out_n
             |  FROM tr t JOIN tot o USING (cur)),
             |nodes AS (
             |  SELECT DISTINCT v FROM (
             |    SELECT cur AS v FROM tr UNION SELECT nxt FROM tr)),
             |nn AS (SELECT count(*) AS nN FROM nodes),
             |r0 AS (
             |  SELECT v, CAST(1000000 // nN AS BIGINT) AS r
             |  FROM nodes CROSS JOIN nn),
             |c1 AS (
             |  SELECT e.nxt AS v, sum((r.r * e.n) // e.out_n) AS contrib
             |  FROM edges e JOIN r0 r ON r.v = e.cur GROUP BY e.nxt),
             |r1 AS (
             |  SELECT n.v,
             |    (1000000 * 15) // (100 * nn.nN)
             |      + (85 * coalesce(c.contrib, 0)) // 100 AS r
             |  FROM nodes n CROSS JOIN nn LEFT JOIN c1 c ON c.v = n.v),
             |c2 AS (
             |  SELECT e.nxt AS v, sum((r.r * e.n) // e.out_n) AS contrib
             |  FROM edges e JOIN r1 r ON r.v = e.cur GROUP BY e.nxt),
             |r2 AS (
             |  SELECT n.v,
             |    (1000000 * 15) // (100 * nn.nN)
             |      + (85 * coalesce(c.contrib, 0)) // 100 AS r
             |  FROM nodes n CROSS JOIN nn LEFT JOIN c2 c ON c.v = n.v),
             |c3 AS (
             |  SELECT e.nxt AS v, sum((r.r * e.n) // e.out_n) AS contrib
             |  FROM edges e JOIN r2 r ON r.v = e.cur GROUP BY e.nxt),
             |r3 AS (
             |  SELECT n.v,
             |    (1000000 * 15) // (100 * nn.nN)
             |      + (85 * coalesce(c.contrib, 0)) // 100 AS r
             |  FROM nodes n CROSS JOIN nn LEFT JOIN c3 c ON c.v = n.v),
             |degs AS (
             |  SELECT cur, any_value(out_n) AS out_n,
             |    count(*) AS n_out_edges
             |  FROM edges GROUP BY cur)
             |SELECT r.v AS event_type, CAST(r.r AS BIGINT) AS pr_ppm,
             |  CAST(coalesce(d.out_n, 0) AS BIGINT) AS out_n,
             |  CAST(coalesce(d.n_out_edges, 0) AS BIGINT) AS n_out_edges
             |FROM r3 r LEFT JOIN degs d ON d.cur = r.v
             |ORDER BY pr_ppm DESC, event_type""".stripMargin)),

    // ── Q119: CONVERSION-LATENCY PERCENTILES — per weekly cohort of
    // first view, how many users convert (a later-or-same-ms first
    // purchase) and the median / p90 view→purchase delay, with the
    // order statistics in the q111/q116 explicit-rank convention —
    // pure integer milliseconds, no percentile built-ins, no FP. The
    // funnel complement to q70 (did they convert) and q105 (did they
    // come back): HOW FAST they convert. One user_id exchange serves
    // the first-view aggregate, the purchase join, and the per-user
    // fold; cohorts are bounded (weeks), so the per-cohort rank
    // windows sort bounded slices, and the report is 1 row per week.
    QueryDef("q119_conversion_latency",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val fv = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"))
          .agg(min(unix_millis(col("ts"))).as("v_ms"))
        val fp = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_millis(col("ts")).as("p_ms"))
        val per = fv.join(fp, Seq("user_id"), "left")
          .groupBy(col("user_id"))
          .agg(first(col("v_ms")).as("v_ms"),
            min(when(col("p_ms") >= col("v_ms"), col("p_ms")))
              .as("p_first"))
          .withColumn("cohort_week", expr("v_ms div 604800000"))
          .withColumn("delta_ms", col("p_first") - col("v_ms"))
        val wC = Window.partitionBy(col("cohort_week"))
        val conv = per.filter(col("delta_ms").isNotNull)
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("cohort_week")).orderBy(col("delta_ms"))))
          .withColumn("nc", count(lit(1)).over(wC))
          .groupBy(col("cohort_week"))
          .agg(count(lit(1)).as("n_converted"),
            min(when(col("rn") * 100 >= col("nc") * 50, col("delta_ms")))
              .as("med_delta_ms"),
            min(when(col("rn") * 100 >= col("nc") * 90, col("delta_ms")))
              .as("p90_delta_ms"))
        per.groupBy(col("cohort_week"))
          .agg(count(lit(1)).as("n_viewers"))
          .join(broadcast(conv), Seq("cohort_week"), "left")
          .na.fill(0L, Seq("n_converted"))
          .withColumn("conversion_ppm",
            expr("(2 * n_converted * 1000000 + n_viewers)"
              + " div (2 * n_viewers)"))
          .select(col("cohort_week"), col("n_viewers"), col("n_converted"),
            col("conversion_ppm"), col("med_delta_ms"), col("p90_delta_ms"))
          .orderBy(col("cohort_week"))
      },
      Some("""WITH fv AS (
             |  SELECT user_id, min(epoch_ms(ts)) AS v_ms
             |  FROM events WHERE event_type = 'view' GROUP BY user_id),
             |fp AS (
             |  SELECT user_id, epoch_ms(ts) AS p_ms
             |  FROM events WHERE event_type = 'purchase'),
             |per AS (
             |  SELECT f.user_id, any_value(f.v_ms) AS v_ms,
             |    min(CASE WHEN p.p_ms >= f.v_ms THEN p.p_ms END) AS p_first
             |  FROM fv f LEFT JOIN fp p USING (user_id)
             |  GROUP BY f.user_id),
             |pc AS (
             |  SELECT user_id, v_ms // 604800000 AS cohort_week,
             |    p_first - v_ms AS delta_ms
             |  FROM per),
             |rk AS (
             |  SELECT cohort_week, delta_ms,
             |    row_number() OVER (PARTITION BY cohort_week
             |      ORDER BY delta_ms) AS rn,
             |    count(*) OVER (PARTITION BY cohort_week) AS nc
             |  FROM pc WHERE delta_ms IS NOT NULL),
             |conv AS (
             |  SELECT cohort_week, count(*) AS n_converted,
             |    min(CASE WHEN rn * 100 >= nc * 50 THEN delta_ms END)
             |      AS med_delta_ms,
             |    min(CASE WHEN rn * 100 >= nc * 90 THEN delta_ms END)
             |      AS p90_delta_ms
             |  FROM rk GROUP BY cohort_week),
             |base AS (
             |  SELECT cohort_week, count(*) AS n_viewers
             |  FROM pc GROUP BY cohort_week)
             |SELECT b.cohort_week, CAST(b.n_viewers AS BIGINT) AS n_viewers,
             |  CAST(coalesce(c.n_converted, 0) AS BIGINT) AS n_converted,
             |  CAST((2 * coalesce(c.n_converted, 0) * 1000000
             |        + b.n_viewers) // (2 * b.n_viewers) AS BIGINT)
             |    AS conversion_ppm,
             |  CAST(c.med_delta_ms AS BIGINT) AS med_delta_ms,
             |  CAST(c.p90_delta_ms AS BIGINT) AS p90_delta_ms
             |FROM base b LEFT JOIN conv c USING (cohort_week)
             |ORDER BY b.cohort_week""".stripMargin)),

    // ── Q122: VALUE-CONCENTRATION GINI — per event type, the Gini
    // coefficient of per-user total value in exact integer cents: the
    // standard whale-concentration number (how unequal is spend across
    // users) behind revenue-risk and abuse dashboards. Computed by the
    // rank formula over the ascending (total, user_id) order —
    // G = (2·Σ i·tᵢ − (n+1)·Σtᵢ) / (n·Σtᵢ) — every term an exact
    // int64/ppm (no FP Lorenz integration), plus the single-largest-
    // user share as the tail pin. The (t, user_id) order is a total
    // order, so both engines rank — and therefore sum i·tᵢ —
    // identically.
    //
    // 100 TB shape: one (event_type, user_id) exchange builds the
    // per-user totals (map-side combined); the rank window then sorts
    // |users| 16-byte rows per type — the honest exact-statistic cost
    // (q116's argument) — and the final rollup is |types| rows.
    // Nothing re-scans events.
    QueryDef("q122_value_gini",
      (s, dir) => {
        val tot = Tables.events(s, dir)
          // valued rows only — q38's NaN/NULL rationale
          .filter(col("value").isNotNull && !isnan(col("value")))
          .select(col("event_type"), col("user_id"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .groupBy(col("event_type"), col("user_id"))
          .agg(sum(col("cents")).as("t"))
        tot
          .withColumn("i", row_number().over(Window
            .partitionBy(col("event_type"))
            .orderBy(col("t"), col("user_id"))))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("t")).as("total_cents"),
            // the i·t products reach ~1e13 with ~1e8 users per type at
            // 100 TB — an int64 sum wraps (non-ANSI) where DuckDB's
            // HUGEINT does not, so the product is widened BEFORE the sum
            sum(col("i").cast("decimal(38,0)") * col("t")).as("w"),
            max(col("t")).as("max_user_cents"))
          .select(col("event_type"), col("n_users"), col("total_cents"),
            // DECIMAL(38,0) throughout: 2·w·10⁶ ≈ 2·10⁶·n·Σt clears
            // int64 around Σt ~ 10¹⁰ cents — reachable at 100 TB.
            expr("CAST((2 * (2 * CAST(w AS DECIMAL(38,0))"
              + " - (n_users + 1) * CAST(total_cents AS DECIMAL(38,0)))"
              + " * 1000000 + CAST(n_users AS DECIMAL(38,0)) * total_cents)"
              + " div (2 * nullif(CAST(n_users AS DECIMAL(38,0))"
              + " * total_cents, 0)) AS BIGINT)")
              .as("gini_ppm"),
            expr("(2 * max_user_cents * 1000000 + total_cents)"
              + " div (2 * nullif(total_cents, 0))")
              .as("max_user_share_ppm"))
          .orderBy(col("event_type"))
      },
      Some("""WITH tot AS (
             |  SELECT event_type, user_id,
             |    sum(CAST(round(value * 100) AS BIGINT)) AS t
             |  FROM events
             |  WHERE value IS NOT NULL AND NOT isnan(value)
             |  GROUP BY 1, 2),
             |rk AS (
             |  SELECT event_type, t, row_number() OVER (
             |    PARTITION BY event_type ORDER BY t, user_id) AS i
             |  FROM tot),
             |agg AS (
             |  SELECT event_type, count(*) AS n_users,
             |    sum(t) AS total_cents, sum(i * t) AS w,
             |    max(t) AS max_user_cents
             |  FROM rk GROUP BY event_type)
             |SELECT event_type, CAST(n_users AS BIGINT) AS n_users,
             |  CAST(total_cents AS BIGINT) AS total_cents,
             |  CAST((2 * (2 * w - (n_users + 1) * total_cents) * 1000000
             |        + n_users * total_cents)
             |    // (2 * nullif(n_users * total_cents, 0)) AS BIGINT)
             |    AS gini_ppm,
             |  CAST((2 * max_user_cents * 1000000 + total_cents)
             |    // (2 * nullif(total_cents, 0)) AS BIGINT)
             |    AS max_user_share_ppm
             |FROM agg ORDER BY event_type""".stripMargin)),

    // ── Q125: HOUR-OF-DAY SEASONAL ANOMALIES — per clock hour, the
    // median and MAD of the DAILY event counts at that hour (over the
    // dense day × hour grid, zero-filled — a silent outage hour must
    // read as an anomalous 0, not a missing row), and how many
    // (day, hour) cells sit outside Hampel's 5-MAD band: q116's robust
    // statistic pointed at the time axis — the seasonal-baseline
    // anomaly check an ops pipeline runs on event volume, immune to
    // the heavy-tailed traffic spikes that wreck mean/stddev bands.
    //
    // 100 TB shape: the corpus-scale work is ONE map-side-combinable
    // (day, hour) count; the dense grid (days × 24 — bounded by the
    // calendar, not the corpus) left-joins those counts, per-hour
    // order statistics run over ~365 samples each (q116's explicit-
    // rank convention, exact integers), and the 24-row stats broadcast
    // back onto the grid for the band test.
    QueryDef("q125_hourly_anomaly",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(expr("unix_millis(ts) div 86400000").as("day"),
            expr("(unix_millis(ts) div 3600000) % 24").as("hour"))
        val counts = ev.groupBy(col("day"), col("hour"))
          .agg(count(lit(1)).as("c"))
        val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        val grid = span
          .select(explode(sequence(col("d0"), col("d1"))).as("day"))
          .select(col("day"), explode(sequence(lit(0L), lit(23L))).as("hour"))
          .join(counts, Seq("day", "hour"), "left")
          .select(col("day"), col("hour"),
            coalesce(col("c"), lit(0L)).as("c"))
        val wH = Window.partitionBy(col("hour"))
        def stat(df: org.apache.spark.sql.DataFrame, cn: String) =
          df.withColumn("rn", row_number().over(
              Window.partitionBy(col("hour")).orderBy(col(cn))))
            .withColumn("n", count(lit(1)).over(wH))
            .groupBy(col("hour"))
            .agg(min(when(col("rn") * 100 >= col("n") * 50, col(cn)))
              .as(s"med_$cn"))
        val med = stat(grid, "c").withColumnRenamed("med_c", "med_count")
        val dev = grid.join(broadcast(med), "hour")
          .withColumn("d", abs(col("c") - col("med_count")))
        val mad = stat(dev.select(col("hour"), col("d")), "d")
          .withColumnRenamed("med_d", "mad_count")
        dev.join(broadcast(mad), "hour")
          .groupBy(col("hour"))
          .agg(count(lit(1)).as("n_days"),
            first(col("med_count")).as("med_count"),
            first(col("mad_count")).as("mad_count"),
            sum(when(col("d") > lit(5L) * col("mad_count"), 1L)
              .otherwise(0L)).as("n_anomalies"))
          .orderBy(col("hour"))
      },
      Some("""WITH ev AS (
             |  SELECT epoch_ms(ts) // 86400000 AS day,
             |    (epoch_ms(ts) // 3600000) % 24 AS hour
             |  FROM events),
             |counts AS (
             |  SELECT day, hour, count(*) AS c FROM ev GROUP BY 1, 2),
             |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
             |days AS (
             |  SELECT unnest(generate_series(d0, d1)) AS day FROM span),
             |grid AS (
             |  SELECT dh.day, dh.hour, coalesce(c.c, 0) AS c
             |  FROM (SELECT d.day, h.hour FROM days d,
             |          (SELECT unnest(generate_series(0, 23)) AS hour) h) dh
             |  LEFT JOIN counts c ON c.day = dh.day AND c.hour = dh.hour),
             |r1 AS (
             |  SELECT hour, c, row_number() OVER (
             |    PARTITION BY hour ORDER BY c) AS rn,
             |    count(*) OVER (PARTITION BY hour) AS n
             |  FROM grid),
             |med AS (
             |  SELECT hour, min(CASE WHEN rn * 100 >= n * 50 THEN c END)
             |    AS med_count
             |  FROM r1 GROUP BY hour),
             |dev AS (
             |  SELECT g.hour, abs(g.c - m.med_count) AS d, m.med_count
             |  FROM grid g JOIN med m USING (hour)),
             |r2 AS (
             |  SELECT hour, d, row_number() OVER (
             |    PARTITION BY hour ORDER BY d) AS rn,
             |    count(*) OVER (PARTITION BY hour) AS n
             |  FROM dev),
             |mad AS (
             |  SELECT hour, min(CASE WHEN rn * 100 >= n * 50 THEN d END)
             |    AS mad_count
             |  FROM r2 GROUP BY hour)
             |SELECT d.hour, count(*) AS n_days,
             |  CAST(any_value(d.med_count) AS BIGINT) AS med_count,
             |  CAST(any_value(a.mad_count) AS BIGINT) AS mad_count,
             |  CAST(sum(CASE WHEN d.d > 5 * a.mad_count THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_anomalies
             |FROM dev d JOIN mad a USING (hour)
             |GROUP BY d.hour ORDER BY d.hour""".stripMargin)),

    // ── Q129: JOIN-SIZE ESTIMATION VIA CMS INNER PRODUCT — the
    // optimizer's question ("how big is view ⋈ purchase on user_id?")
    // answered from two 64 KB sketches next to the exact answer:
    // est = min over rows of Σ_j cmsA[r][j]·cmsB[r][j] (Cormode &
    // Muthukrishnan 2005 §4.2 — the AGMS inner-product estimator
    // specialized to CMS), which OVERESTIMATES the true
    // Σ_k cA(k)·cB(k) by exactly the non-negative collision cross
    // terms — the one-sided error a join planner can trust as an
    // upper bound. Everything is integer-exact and the full sketch
    // replays in HUGEINT SQL (q58's slot scheme), so both engines
    // agree on the ESTIMATE bit-for-bit, not just bounds.
    //
    // 100 TB shape: the sketch path is two map-side-combinable
    // aggregations into O(depth·width) state — no shuffle of the fact
    // table at all, THE reason a planner can afford it before choosing
    // a join strategy; the exact branch (one user_id exchange) is the
    // audit this estimator exists to avoid. All three 1-row results
    // broadcast into the final projection.
    QueryDef("q129_join_size_sketch",
      (s, dir) => {
        val depth = 4; val width = 2048
        val cms = udaf(graft.functions.CmsSketchAgg(depth, width))
        val ipUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
          graft.functions.CmsSketchAgg.innerProduct(a.toIndexedSeq,
            b.toIndexedSeq, depth, width)
        }
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isin("view", "purchase"))
          .select(col("event_type"), col("user_id"),
            call_function("graft_hash64",
              col("user_id").cast("string")).as("h"))
        val a = ev.filter(col("event_type") === "view")
        val b = ev.filter(col("event_type") === "purchase")
        val skA = a.agg(cms(col("h")).as("ska"),
          count(lit(1)).as("n_view"))
        val skB = b.agg(cms(col("h")).as("skb"),
          count(lit(1)).as("n_purchase"))
        val exact = a.groupBy(col("user_id")).agg(count(lit(1)).as("ca"))
          .join(b.groupBy(col("user_id")).agg(count(lit(1)).as("cb")),
            "user_id")
          .agg(coalesce(sum(col("ca") * col("cb")), lit(0L))
            .as("exact_join_size"))
        skA.crossJoin(broadcast(skB)).crossJoin(broadcast(exact))
          .select(col("n_view"), col("n_purchase"),
            col("exact_join_size"),
            ipUdf(col("ska"), col("skb")).as("est_join_size"))
          .withColumn("overest_ppm",
            expr("(2 * (est_join_size - exact_join_size) * 1000000"
              + " + exact_join_size)"
              + " div (2 * nullif(exact_join_size, 0))"))
      },
      Some {
        val golden = "11400714819323198485" // GOLDEN as unsigned residue
        s"""WITH ev AS (
           |  SELECT event_type, user_id FROM events
           |  WHERE event_type IN ('view', 'purchase')),
           |ca AS (SELECT user_id, count(*) AS c FROM ev
           |  WHERE event_type = 'view' GROUP BY 1),
           |cb AS (SELECT user_id, count(*) AS c FROM ev
           |  WHERE event_type = 'purchase' GROUP BY 1),
           |keys AS (SELECT DISTINCT user_id FROM ev),
           |h0 AS (SELECT user_id,
           |    ${OracleSql.hash64("CAST(user_id AS VARCHAR)")} AS z0
           |  FROM keys),
           |slots AS (
           |  SELECT user_id, CAST(i.range AS INT) AS i,
           |    (z0 + (CAST(i.range AS HUGEINT) * $golden)
           |      % ${OracleSql.MOD}) % ${OracleSql.MOD} AS z
           |  FROM h0, range(0, 4) i),
           |${OracleSql.mix64Ctes("user_id, i", "slots")},
           |addr AS (SELECT user_id, i, m % 2048 AS idx FROM mixed),
           |cellsA AS (
           |  SELECT a.i, a.idx, CAST(sum(ca.c) AS BIGINT) AS cell
           |  FROM addr a JOIN ca USING (user_id) GROUP BY 1, 2),
           |cellsB AS (
           |  SELECT a.i, a.idx, CAST(sum(cb.c) AS BIGINT) AS cell
           |  FROM addr a JOIN cb USING (user_id) GROUP BY 1, 2),
           |ip AS (
           |  SELECT a.i, sum(a.cell * b.cell) AS s
           |  FROM cellsA a JOIN cellsB b ON a.i = b.i AND a.idx = b.idx
           |  GROUP BY a.i),
           |est AS (
           |  SELECT min(coalesce(ip.s, 0)) AS est_join_size
           |  FROM range(0, 4) i LEFT JOIN ip ON ip.i = i.range),
           |exact AS (
           |  SELECT coalesce(sum(ca.c * cb.c), 0) AS exact_join_size
           |  FROM ca JOIN cb USING (user_id)),
           |na AS (SELECT count(*) AS n_view FROM ev
           |  WHERE event_type = 'view'),
           |nb AS (SELECT count(*) AS n_purchase FROM ev
           |  WHERE event_type = 'purchase')
           |SELECT CAST(na.n_view AS BIGINT) AS n_view,
           |  CAST(nb.n_purchase AS BIGINT) AS n_purchase,
           |  CAST(x.exact_join_size AS BIGINT) AS exact_join_size,
           |  CAST(e.est_join_size AS BIGINT) AS est_join_size,
           |  CAST((2 * (e.est_join_size - x.exact_join_size) * 1000000
           |        + x.exact_join_size)
           |    // (2 * nullif(x.exact_join_size, 0)) AS BIGINT)
           |    AS overest_ppm
           |FROM na, nb, exact x, est e""".stripMargin
      }),

    // ── Q135: Z-ORDER LAYOUT FILE-SKIPPING CURVE — the engine measures
    // its own data-layout knob. Rows get two bounded integer dims
    // (user bucket 0..255, minute-of-day scaled to 0..255); a Morton
    // code interleaves their bits. Files are simulated as `n_buckets`
    // equal code ranges under two layouts: LINEAR (row-major on the
    // user dim — what a naive ORDER BY user_id write produces) and
    // ZORDER. For a 2-D box predicate (the Delta/Iceberg OPTIMIZE
    // ZORDER use case) each file keeps per-file min/max of both dims —
    // exactly the parquet footer stats a 100 TB scan prunes on — and
    // the query reports, per (layout, n_buckets): files pruned and
    // rows inside surviving files. Z-order's interleaving bounds BOTH
    // dims per file, so its curve dominates linear's everywhere except
    // the predicate's own dimension — the measured argument for
    // z-ordering ingest. One events scan; the curve fans out over a
    // 6-row literal array; stats ride one (layout, n_buckets, bucket)
    // groupBy — never a second corpus pass.
    QueryDef("q135_zorder_skip",
      (s, dir) => {
        val ub = expr("((user_id % 256) + 256) % 256")
        val tb = expr("(((unix_millis(ts) div 60000) % 1440) * 256)"
          + " div 1440")
        // 16-bit Morton: bit i of ub → bit 2i+1, bit i of tb → bit 2i
        val morton = (0 until 8).map(i =>
          shiftleft(shiftright(col("ub"), i).bitwiseAND(lit(1L)),
            2 * i + 1).cast("long") +
            shiftleft(shiftright(col("tb"), i).bitwiseAND(lit(1L)),
              2 * i).cast("long"))
          .reduce(_ + _)
        val base = Tables.events(s, dir)
          .select(ub.as("ub"), tb.as("tb"))
          .select(col("ub"), col("tb"), morton.as("mz"),
            expr("ub * 256 + tb").as("ml"),
            // the 2-D box predicate under test
            expr("CASE WHEN ub BETWEEN 64 AND 127"
              + " AND tb BETWEEN 32 AND 95 THEN 1 ELSE 0 END").as("hit"))
        val fan = base.select(col("ub"), col("tb"), col("mz"), col("ml"),
          col("hit"),
          explode(array(
            struct(lit("linear").as("layout"), lit(16L).as("n_buckets")),
            struct(lit("zorder").as("layout"), lit(16L).as("n_buckets")),
            struct(lit("linear").as("layout"), lit(64L).as("n_buckets")),
            struct(lit("zorder").as("layout"), lit(64L).as("n_buckets")),
            struct(lit("linear").as("layout"), lit(256L).as("n_buckets")),
            struct(lit("zorder").as("layout"), lit(256L).as("n_buckets"))
          )).as("cfg"))
          .select(col("cfg.layout").as("layout"),
            col("cfg.n_buckets").as("n_buckets"),
            expr("(CASE WHEN cfg.layout = 'zorder' THEN mz ELSE ml END"
              + " * cfg.n_buckets) div 65536").as("bucket"),
            col("ub"), col("tb"), col("hit"))
        val files = fan.groupBy(col("layout"), col("n_buckets"),
            col("bucket"))
          .agg(min(col("ub")).as("mn_ub"), max(col("ub")).as("mx_ub"),
            min(col("tb")).as("mn_tb"), max(col("tb")).as("mx_tb"),
            count(lit(1)).as("rows"), sum(col("hit")).as("hits"))
          .withColumn("pruned",
            when(col("mx_ub") < 64 || col("mn_ub") > 127 ||
              col("mx_tb") < 32 || col("mn_tb") > 95, 1L).otherwise(0L))
        files.groupBy(col("layout"), col("n_buckets"))
          .agg(count(lit(1)).as("files"),
            sum(col("pruned")).as("files_pruned"),
            sum(when(col("pruned") === 0, col("rows")).otherwise(0L))
              .as("rows_scanned"),
            sum(col("hits")).as("rows_matching"))
          .orderBy(col("layout"), col("n_buckets"))
      },
      Some("""WITH base AS (
             |  SELECT ((user_id % 256) + 256) % 256 AS ub,
             |    ((((epoch_ms(ts) // 60000) % 1440)) * 256) // 1440 AS tb
             |  FROM events),
             |coded AS (
             |  SELECT ub, tb,
             |    (((ub >> 0) & 1) << 1) + (((tb >> 0) & 1) << 0)
             |    + (((ub >> 1) & 1) << 3) + (((tb >> 1) & 1) << 2)
             |    + (((ub >> 2) & 1) << 5) + (((tb >> 2) & 1) << 4)
             |    + (((ub >> 3) & 1) << 7) + (((tb >> 3) & 1) << 6)
             |    + (((ub >> 4) & 1) << 9) + (((tb >> 4) & 1) << 8)
             |    + (((ub >> 5) & 1) << 11) + (((tb >> 5) & 1) << 10)
             |    + (((ub >> 6) & 1) << 13) + (((tb >> 6) & 1) << 12)
             |    + (((ub >> 7) & 1) << 15) + (((tb >> 7) & 1) << 14)
             |      AS mz,
             |    ub * 256 + tb AS ml,
             |    CASE WHEN ub BETWEEN 64 AND 127
             |      AND tb BETWEEN 32 AND 95 THEN 1 ELSE 0 END AS hit
             |  FROM base),
             |cfg AS (
             |  SELECT layout, CAST(n_buckets AS BIGINT) AS n_buckets
             |  FROM (VALUES ('linear', 16), ('zorder', 16),
             |               ('linear', 64), ('zorder', 64),
             |               ('linear', 256), ('zorder', 256))
             |    t(layout, n_buckets)),
             |fan AS (
             |  SELECT c.layout, c.n_buckets,
             |    (CASE WHEN c.layout = 'zorder' THEN b.mz ELSE b.ml END
             |      * c.n_buckets) // 65536 AS bucket,
             |    b.ub, b.tb, b.hit
             |  FROM coded b CROSS JOIN cfg c),
             |files AS (
             |  SELECT layout, n_buckets, bucket,
             |    min(ub) AS mn_ub, max(ub) AS mx_ub,
             |    min(tb) AS mn_tb, max(tb) AS mx_tb,
             |    count(*) AS nrows, sum(hit) AS hits,
             |    CASE WHEN max(ub) < 64 OR min(ub) > 127
             |      OR max(tb) < 32 OR min(tb) > 95 THEN 1 ELSE 0 END
             |      AS pruned
             |  FROM fan GROUP BY layout, n_buckets, bucket)
             |SELECT layout, n_buckets,
             |  CAST(count(*) AS BIGINT) AS files,
             |  CAST(sum(pruned) AS BIGINT) AS files_pruned,
             |  CAST(sum(CASE WHEN pruned = 0 THEN nrows ELSE 0 END)
             |    AS BIGINT) AS rows_scanned,
             |  CAST(sum(hits) AS BIGINT) AS rows_matching
             |FROM files GROUP BY layout, n_buckets
             |ORDER BY layout, n_buckets""".stripMargin)),

    // ── Q141: BEHAVIORAL TRIGRAMS — sequential pattern mining over
    // the per-user event stream: the top-20 most frequent 3-step
    // event-type sequences (consecutive by (ts, event_id) order).
    // q106 models single transitions (the Markov edge list); this is
    // the order-3 pattern table a funnel designer or anomaly rule
    // miner reads. NULL event_type normalizes to '' BEFORE the leads
    // so a hole in the stream is a real symbol (and the tie-break
    // sort never compares engine-specific NULL order).
    //
    // 100 TB shape: ONE user-keyed window exchange (the q105/q36
    // exchange the events family already pays) produces both leads in
    // a single pass; the trigram table is bounded by |event types|³ —
    // vocabulary-sized, not corpus-sized — so the count groupBy
    // map-side-combines to almost nothing and top-20 rides a
    // TakeOrderedAndProject, never a global sort.
    QueryDef("q141_behavior_trigrams",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            coalesce(col("event_type"), lit("")).as("a"))
          .select(col("a"), lead(col("a"), 1).over(w).as("b"),
            lead(col("a"), 2).over(w).as("c"))
          .filter(col("b").isNotNull && col("c").isNotNull)
          .groupBy(col("a"), col("b"), col("c"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("a"), col("b"), col("c"))
          .limit(20)
      },
      Some("""WITH e AS (
             |  SELECT user_id, ts, event_id,
             |    coalesce(event_type, '') AS a
             |  FROM events),
             |g AS (
             |  SELECT a, lead(a, 1) OVER w AS b, lead(a, 2) OVER w AS c
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT a, b, c, CAST(count(*) AS BIGINT) AS n
             |FROM g WHERE b IS NOT NULL AND c IS NOT NULL
             |GROUP BY 1, 2, 3
             |ORDER BY n DESC, a, b, c LIMIT 20""".stripMargin)),

    // ── Q142: AS-OF TOLERANCE SWEEP — q19's as-of join staleness knob
    // as a measured curve: the fraction of clicks whose latest
    // at-or-before purchase is within 1 min / 10 min / 1 h / 1 d. A
    // production as-of join always carries a tolerance (match against
    // arbitrarily stale reference data silently, or drop?); this
    // reports exactly what each setting would keep. ONE as-of pass
    // (q19's union + last(ignoreNulls) ordered window — no range-join
    // candidate explosion), then the 4-point sweep fans out over a
    // literal array; tolerance sets nest so the curve is provably
    // monotone (pinned in QueriesSpec).
    QueryDef("q142_asof_tolerance_sweep",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_millis(col("ts")).as("ts_ms"))
          .filter(col("event_type").isin("click", "purchase"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ms"),
            when(col("event_type") === "purchase", 0).otherwise(1),
            col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val asof = e.withColumn("purchase_ts",
            last(when(col("event_type") === "purchase", col("ts_ms")),
              ignoreNulls = true).over(w))
          .filter(col("event_type") === "click")
          .select((col("ts_ms") - col("purchase_ts")).as("staleness_ms"))
        asof
          .select(col("staleness_ms"),
            explode(array(lit(60000L), lit(600000L), lit(3600000L),
              lit(86400000L))).as("tolerance_ms"))
          .groupBy(col("tolerance_ms"))
          .agg(count(lit(1)).as("n_clicks"),
            sum(when(col("staleness_ms").isNotNull &&
              col("staleness_ms") <= col("tolerance_ms"), 1L)
              .otherwise(0L)).as("n_matched"))
          .select(col("tolerance_ms"), col("n_clicks"), col("n_matched"),
            expr("(2 * n_matched * 1000000 + n_clicks)"
              + " div (2 * nullif(n_clicks, 0))").as("match_ppm"))
          .orderBy(col("tolerance_ms"))
      },
      Some("""WITH tagged AS (
             |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |w AS (
             |  SELECT *,
             |    last_value(CASE WHEN event_type = 'purchase' THEN ts_ms END
             |      IGNORE NULLS) OVER (PARTITION BY user_id
             |      ORDER BY ts_ms,
             |        CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END,
             |        event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS purchase_ts
             |  FROM tagged),
             |st AS (
             |  SELECT ts_ms - purchase_ts AS staleness_ms
             |  FROM w WHERE event_type = 'click'),
             |tol AS (SELECT CAST(unnest([60000, 600000, 3600000,
             |  86400000]) AS BIGINT) AS tolerance_ms)
             |SELECT t.tolerance_ms,
             |  CAST(count(*) AS BIGINT) AS n_clicks,
             |  CAST(sum(CASE WHEN s.staleness_ms IS NOT NULL
             |    AND s.staleness_ms <= t.tolerance_ms
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
             |  CAST((2 * sum(CASE WHEN s.staleness_ms IS NOT NULL
             |      AND s.staleness_ms <= t.tolerance_ms THEN 1 ELSE 0 END)
             |      * 1000000 + count(*))
             |    // (2 * nullif(count(*), 0)) AS BIGINT) AS match_ppm
             |FROM st s CROSS JOIN tol t
             |GROUP BY t.tolerance_ms
             |ORDER BY t.tolerance_ms""".stripMargin)),

    // ── Q143: AUDIENCE-OVERLAP MATRIX — exact Jaccard between the
    // user sets of every event-type pair ("of the users who ever
    // purchase, how many also error?"). The naive shape self-joins
    // the (user, type) table on user_id — quadratic in per-user
    // activity; this one pays ONE user-keyed exchange to fold each
    // user's distinct type set (bounded by |types|, the vocabulary),
    // enumerates that set's pairs IN-ARRAY (the q134 wedge kernel:
    // ≤ C(|types|, 2) rows per user), and counts — every frame after
    // the fold is vocabulary-sized. Zero-overlap pairs appear via the
    // tiny type-grid left join, so the matrix is always complete.
    QueryDef("q143_audience_overlap",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isNotNull)
          .select(col("user_id"), col("event_type")).distinct()
          .localCheckpoint()
        val ua = ev.groupBy(col("event_type")).agg(count(lit(1)).as("ua"))
          .localCheckpoint()
        val um = ev.groupBy(col("user_id"))
          .agg(sort_array(collect_set(col("event_type"))).as("tset"))
        val both = um.select(
          explode(expr("flatten(transform(tset, (x, i) ->" +
            " transform(slice(tset, i + 2, size(tset))," +
            " y -> named_struct('ta', x, 'tb', y))))")).as("p"))
          .groupBy(col("p.ta").as("type_a"), col("p.tb").as("type_b"))
          .agg(count(lit(1)).as("users_both"))
        val grid = ua.select(col("event_type").as("type_a"))
          .crossJoin(ua.select(col("event_type").as("type_b")))
          .filter(col("type_a") < col("type_b"))
        grid
          .join(broadcast(both), Seq("type_a", "type_b"), "left")
          .join(broadcast(ua.select(col("event_type").as("type_a"),
            col("ua").as("users_a"))), Seq("type_a"))
          .join(broadcast(ua.select(col("event_type").as("type_b"),
            col("ua").as("users_b"))), Seq("type_b"))
          .select(col("type_a"), col("type_b"),
            col("users_a"), col("users_b"),
            coalesce(col("users_both"), lit(0L)).as("users_both"))
          .withColumn("jaccard_ppm",
            expr("(2 * users_both * 1000000"
              + " + (users_a + users_b - users_both))"
              + " div (2 * nullif(users_a + users_b - users_both, 0))"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some("""WITH ev AS (
             |  SELECT DISTINCT user_id, event_type FROM events
             |  WHERE event_type IS NOT NULL),
             |ua AS (SELECT event_type, count(*) AS ua FROM ev
             |  GROUP BY event_type),
             |bt AS (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    count(*) AS users_both
             |  FROM ev a JOIN ev b ON a.user_id = b.user_id
             |    AND a.event_type < b.event_type
             |  GROUP BY 1, 2),
             |grid AS (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b
             |  FROM ua a CROSS JOIN ua b
             |  WHERE a.event_type < b.event_type)
             |SELECT g.type_a, g.type_b,
             |  CAST(x.ua AS BIGINT) AS users_a,
             |  CAST(y.ua AS BIGINT) AS users_b,
             |  CAST(coalesce(b.users_both, 0) AS BIGINT) AS users_both,
             |  CAST((2 * coalesce(b.users_both, 0) * 1000000
             |      + (x.ua + y.ua - coalesce(b.users_both, 0)))
             |    // (2 * nullif(x.ua + y.ua - coalesce(b.users_both, 0),
             |      0)) AS BIGINT) AS jaccard_ppm
             |FROM grid g
             |LEFT JOIN bt b ON b.type_a = g.type_a AND b.type_b = g.type_b
             |JOIN ua x ON x.event_type = g.type_a
             |JOIN ua y ON y.event_type = g.type_b
             |ORDER BY g.type_a, g.type_b""".stripMargin)))
}
