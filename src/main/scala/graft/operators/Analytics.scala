package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Full analytic-capability suite beyond the reference's literal SQL surface.
  *
  * The reference delegates these to ClickHouse built-ins without invoking
  * them (SURVEY.md §2.3 "absent in reference" rows); a user switching engines
  * still expects them. Everything is declarative DataFrame code so Catalyst
  * plans it: broadcast joins for dims (explicit `broadcast()` hint on
  * sub-10MB tables), shuffle hash/sort-merge for fact-fact joins, AQE at
  * runtime. Every query is oracle-checked against DuckDB.
  */
object Analytics extends QueryModule {

  /** The pinned SHOW CREATE TABLE output for `sql_show_create` — the
    * renderer's exact text for the fixture DDL (now() stores as its
    * rewritten form, the honest stored expression). The oracle escapes
    * this literal into SQL; SqlParitySpec reuses it for the Spark twin.
    */
  private[graft] val ShowCreateExpected: String =
    """CREATE TABLE show_tbl (
      |  `k_id` UInt64,
      |  `seg` LowCardinality(String),
      |  `status` Enum8('open' = 1, 'closed' = 2),
      |  `d_day` Date,
      |  `price` Decimal(12, 2),
      |  `qty` UInt32 CODEC(Delta),
      |  `tag` FixedString(8),
      |  `loaded_at` DateTime MATERIALIZED current_timestamp(),
      |  CONSTRAINT qty_pos CHECK qty >= 0,
      |  INDEX bf_seg seg TYPE bloom_filter GRANULARITY 1,
      |  INDEX mm_qty qty TYPE minmax GRANULARITY 1,
      |  INDEX set_status status TYPE set(8) GRANULARITY 1,
      |  INDEX tok_tag tag TYPE tokenbf_v1 GRANULARITY 1
      |)
      |ENGINE = ReplacingMergeTree(loaded_at)
      |ORDER BY (seg, k_id)
      |PARTITION BY toYYYYMM(d_day)
      |SAMPLE BY k_id""".stripMargin

  override def queries: Map[String, Q] = Map(
    // ---- joins ----
    // No forced broadcast() hint: part GROWS with scale factor (x100 from
    // sf0.001 to sf0.1 and beyond), and a pinned hint made the sf10 scale
    // probe build a 2M-row broadcast table (x26 per decade vs x4 unhinted).
    // Catalyst/AQE broadcasts automatically below the 10 MB threshold —
    // the BroadcastHashJoin this query demonstrates still plans at bench
    // scale (PlanSpec asserts the BroadcastHashJoin) — and degrades to a shuffle join
    // when the dimension outgrows it, which is the posture that survives
    // 100 TB. Hints stay correct for dims KNOWN to be bounded (nation,
    // region, a query literal set); part is not one.
    "join_broadcast" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("p_brand"))),

    "join_shuffle" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"), count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))),

    // Salted skew join exercised as a first-class query: 80% of events land
    // on one derived key (the hot-key shape that pins a reducer at scale);
    // SkewJoin spreads it across 8 salt buckets with an 8× replication of
    // the 25-row dim. Result-identical to the plain join, so the oracle IS
    // the plain join; the integer id checksum keeps the compare float-free
    // (double sums would be fold-order-sensitive across salt partitions).
    "join_skew_salted" -> ((s, d) => {
      val facts = Tables.events(s, d)
        .select(when(col("event_id") % 10 < 8, lit(0L))
          .otherwise(col("user_id") % 25).cast("int").as("nkey"),
          col("event_id"))
      val dim = Tables.nation(s, d)
        .select(col("n_nationkey").cast("int").as("nkey"), col("n_name"))
      SkewJoin.saltedJoin(facts, dim, "nkey", salts = 8)
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
        .orderBy(col("n_name"))
    }),

    "join_left_outer" -> ((s, d) =>
      // preserve-left outer join; supplier grows with SF, so no forced
      // broadcast hint — AQE picks BHJ at bench scale and degrades to
      // shuffle when supplier outgrows the threshold
      Tables.nation(s, d)
        .join(Tables.supplier(s, d), col("s_nationkey") === col("n_nationkey"), "left_outer")
        .groupBy(col("n_name"))
        .agg(count(col("s_suppkey")).as("n_supp"))
        .orderBy(col("n_name"))),

    "join_full_outer" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n_click"))
      val buys = ev.filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("n_buy"))
      clicks.join(buys, Seq("d"), "full_outer")
        // DATE → formatted string: Spark writes parquet DATE where DuckDB's
        // CAST(ts AS DATE) surfaces as midnight timestamps through the
        // driver's pandas compare; a string is type-stable on both sides
        .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("n_click"), col("n_buy"))
        .orderBy(col("d"))
    }),

    "join_cross" -> ((s, d) =>
      Tables.region(s, d).crossJoin(Tables.nation(s, d))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))),

    // TPC-H Q3 shape: fact-fact-dim 3-way join + grouped revenue top-k
    "q3_shipping" -> ((s, d) => {
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-06-01 00:00:00").cast("timestamp"))
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1998-06-01 00:00:00").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(20)
    }),

    // TPC-H Q5 shape: 6-way snowflake join. Only the bounded dims
    // (nation⋈region, 25×5 rows forever) carry a broadcast hint; supplier
    // is SF×10k rows, so its join is left to AQE — BHJ at bench scale,
    // graceful shuffle degrade when it outgrows the threshold at 100×.
    "q5_region_revenue" -> ((s, d) => {
      val nr = broadcast(Tables.nation(s, d)
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey")))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(nr, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Null-safe equi-join (<=>): NULL keys match each other — ClickHouse's
    // join on Nullable keys, SQL's IS NOT DISTINCT FROM. Spark plans the
    // coalesced key as a normal hash join, so the semantic costs nothing.
    "join_null_safe" -> ((s, d) => {
      val n = Tables.nation(s, d)
        .select(col("n_name"), expr("nullif(n_regionkey, 0)").as("rk"))
      val r = Tables.region(s, d)
        .select(expr("nullif(r_regionkey, 0)").as("rk"), col("r_name"))
      n.join(broadcast(r), n("rk") <=> r("rk"))
        .select(col("n_name"), col("r_name"))
        .orderBy(col("n_name"), col("r_name"))
    }),

    // PIVOT: wide conditional aggregation with an explicit value list (the
    // list keeps the output schema static — a discovery pivot would need a
    // pre-pass collect of distinct keys).
    "agg_pivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 2))
        .orderBy(col("l_returnflag"))),

    // ---- distinct / grouping sets ----
    "agg_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag"))),

    "distinct_rows" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus")).distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    "agg_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    "agg_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // `GROUP BY a, b WITH TOTALS` — NOT rollup: the sets are ((a,b),()),
    // full groups plus ONE grand-total row, with no per-a subtotal level
    // in between. Dataset.groupingSets expresses it exactly.
    "agg_totals" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // `GROUP BY a, b WITH TOTALS HAVING n > k` under the default
    // totals_mode = before_having: HAVING filters the GROUP rows only,
    // while the totals row keeps aggregating every group (including the
    // filtered-out ones). One grouping-sets pass — the filter exempts the
    // totals row by grouping_id, so no second scan and no extra shuffle.
    "agg_totals_having" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"),
          grouping_id().as("gid"))
        .filter(col("gid") === 3 || col("n") > 10000)
        .drop("gid")
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // HLL sketch vs exact, oracle-checkable: the raw sketch estimate is
    // engine-specific (HLL bit layout), but its documented accuracy contract
    // is not — approx_count_distinct's default rsd 0.05 is a standard
    // DEVIATION, not a bound, so the checked bound is 3σ = 15% (the estimate
    // is deterministic per dataset, but a 1σ bound would bake a plausible
    // tail outcome into the contract as a hard failure). The oracle asserts
    // the same exact count and literal TRUE.
    "agg_approx_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) <=
            col("exact_parts") * 0.15).as("approx_within_3sd"))),

    // ---- window functions ----
    "win_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rnk", rank().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("o_orderstatus"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderstatus"), col("rnk"), col("o_orderkey"))
    }),

    "win_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("prev_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "win_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("running_spend", round(sum(col("o_totalprice")).over(w), 2))
        .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Time-based RANGE frame: trailing 1-hour moving sum/count per user —
    // the value-range window (RANGE BETWEEN N PRECEDING) that ROWS frames
    // cannot express when events are irregularly spaced. Ordered by epoch
    // seconds (a numeric key both engines frame identically; RANGE over raw
    // timestamps would pit Spark's interval arithmetic against DuckDB's).
    // Partitioned by user_id — scales with the corpus sharding.
    "win_moving_range" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("epoch"))
        .rangeBetween(-3600L, 0L)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("epoch"), col("value"))
        .withColumn("mov_n", count(lit(1)).over(w))
        .withColumn("mov_sum", round(sum(col("value")).over(w), 4))
        .select(col("event_id"), col("user_id"), col("epoch"),
          col("mov_n"), col("mov_sum"))
        .orderBy(col("event_id"))
    }),

    // Global ntile/dense_rank WITHOUT a partitionless window (which would
    // serialize the whole table through one task — "Moving all data to a
    // single partition"). The ordering (c_acctbal DESC, c_custkey) is total
    // (custkey is unique), so dense_rank ≡ row position, and only positions
    // ≤ 40 survive the filter. Distributed restatement:
    //   1. top-40 via orderBy+limit → TakeOrderedAndProject (per-partition
    //      top-k + merge; no global sort, no single-partition window);
    //   2. positions within those 40 rows via a 40×40 predecessor-count
    //      self-join (broadcast NLJ on a constant-size frame);
    //   3. ntile(4) arithmetically from position p and total row count N:
    //      the first N%4 tiles get ⌈N/4⌉ rows, the rest ⌊N/4⌋.
    "win_ntile_dense" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val top = cust
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(40)
        .select(col("c_custkey"), col("c_acctbal"))
      val total = cust.agg(count(lit(1)).as("tot"))
      val pos = top.as("a")
        .join(broadcast(top.as("b")),
          col("b.c_acctbal") > col("a.c_acctbal") ||
            (col("b.c_acctbal") === col("a.c_acctbal") &&
              col("b.c_custkey") <= col("a.c_custkey")))
        .groupBy(col("a.c_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("drnk"))
      pos.crossJoin(broadcast(total))
        .withColumn("base", floor(col("tot") / 4))
        .withColumn("rem", col("tot") % 4)
        .withColumn("quartile",
          when(col("drnk") <= col("rem") * (col("base") + 1),
            ceil(col("drnk") / (col("base") + 1)))
            .otherwise(col("rem") +
              ceil((col("drnk") - col("rem") * (col("base") + 1)) / col("base")))
            .cast("long"))
        .select(col("c_custkey"), col("quartile"), col("drnk"))
        .orderBy(col("c_custkey"))
    }),

    // distribution + frame-navigation window functions: percent_rank,
    // cume_dist, first_value and nth_value over an explicit running frame.
    // The two ratios hit exact decimal midpoints (denominators n-1 / n are
    // often powers of 2) — binary half-up on both engines, like
    // text_quality's composite score.
    "win_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .filter(col("o_custkey") < 50)
        .select(col("o_orderstatus"), col("o_orderkey"),
          (floor(percent_rank().over(w) * 1e6 + 0.5) / 1e6).as("pr"),
          (floor(cume_dist().over(w) * 1e6 + 0.5) / 1e6).as("cd"),
          first(col("o_orderkey")).over(wf).as("first_key"),
          nth_value(col("o_orderkey"), 2).over(wf).as("second_key"))
        .orderBy(col("o_orderstatus"), col("o_orderkey"))
    }),

    // runningDifference / nonNegativeDerivative analogs: consecutive-row
    // delta and the per-second rate clamped at zero (the counter-reset
    // idiom for monotonic gauges), per event_type — a partitioned lag
    // window, total-ordered by (ts, event_id). Time deltas are WHOLE
    // seconds on both engines (unix_timestamp ≡ floor(epoch)): the
    // events table's physical timestamp precision varies by vintage
    // (X49), so sub-second epoch fractions are not cross-engine stable.
    "win_derivative" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d).filter(col("event_id") < 2000)
        .select(col("event_type"), col("event_id"), col("value"),
          col("ts"), unix_timestamp(col("ts")).as("es"))
        .withColumn("prev_v", lag(col("value"), 1).over(w))
        .withColumn("dt", col("es") - lag(col("es"), 1).over(w))
        .select(col("event_type"), col("event_id"),
          round(coalesce(col("value") - col("prev_v"), lit(0.0)), 4)
            .as("diff"),
          // floor(x*1e6+0.5)/1e6, not round(x, 6): a quotient landing on
          // a midpoint rounds differently across engines (the fn_math
          // convention for non-aggregated ratios)
          (floor(when(col("dt") > 0,
              greatest((col("value") - col("prev_v")) / col("dt"), lit(0.0)))
            .otherwise(lit(0.0)) * 1e6 + 0.5) / 1e6).as("nn_deriv"))
        .orderBy(col("event_type"), col("event_id"))
    }),

    // ---- set operations ----
    "set_union" -> ((s, d) =>
      Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
        .union(Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k")))
        .distinct()
        .orderBy(col("k"))),

    "set_except" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_custkey").as("k"))
        .except(Tables.orders(s, d).filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("k")))
        .orderBy(col("k"))),

    "set_intersect" -> ((s, d) =>
      Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
        .intersect(Tables.orders(s, d).filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("k")))
        .orderBy(col("k"))),

    // multiset (ALL) variants: EXCEPT ALL subtracts MULTIPLICITIES — a
    // customer with 3 'F' orders and 1 'O' order keeps 2 rows — and
    // INTERSECT ALL keeps min(multiplicity). The distinct variants above
    // can't observe duplicate counts at all.
    "set_except_all" -> ((s, d) =>
      Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
        .exceptAll(Tables.orders(s, d).filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("k")))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))),

    "set_intersect_all" -> ((s, d) =>
      Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
        .intersectAll(Tables.orders(s, d).filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("k")))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))),

    // Parameterized view through the SQL entry point: the view text
    // carries typed {param:Type} placeholders, the invocation binds
    // values through the typed-literal renderer (the injection barrier),
    // and the bound text runs through the session's own parser/optimizer
    // like any SQL. The oracle is the same text with the parameters
    // inlined by hand.
    "sql_param_view" -> ((s, d) => {
      graft.sql.GraftSql.createParamView("orders_by_seg",
        """SELECT o_orderpriority, count(*) AS n,
          | round(sum(o_totalprice), 2) AS total
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = {seg:String} AND o_totalprice >= {lo:UInt32}
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      graft.sql.GraftSql.paramView(s, d, "orders_by_seg",
        Map("seg" -> "BUILDING", "lo" -> 50000))
    }),

    // CREATE FUNCTION through the SQL entry point (round-9 verdict item
    // 5): named expression macros — one calling another — expand
    // textually before parsing, so the plan is identical to hand-written
    // SQL (no UDF anywhere; registration validated the bodies resolve).
    // The oracle is the same query with the macros inlined by hand.
    "sql_udf_call" -> ((s, d) => {
      graft.sql.GraftSql.createFunction(s, "one_minus", Seq("x"), "1 - x")
      graft.sql.GraftSql.createFunction(s, "disc_price", Seq("p", "disc"),
        "p * one_minus(disc)")
      graft.sql.GraftSql.createFunction(s, "big_line", Seq("q"), "q > 30")
      graft.sql.GraftSql.sql(s, d,
        """SELECT l_returnflag, count(*) AS n,
          | round(sum(disc_price(l_extendedprice, l_discount)), 2) AS revenue
          |FROM lineitem WHERE big_line(l_quantity)
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // SHOW CREATE TABLE through the gate: a rich DDL fixture (Replacing
    // engine with version col, Enum8 + LowCardinality + FixedString +
    // Decimal + Delta codec, all four skip-index families, MATERIALIZED
    // col, CONSTRAINT, PARTITION BY toYYYYMM, SAMPLE BY) parses to a
    // TableDef and renders BACK to DDL text; the in-plan require proves
    // parse(render(def)) == def before the text is returned, and the
    // oracle pins the exact rendered statement — so any drift in parser
    // OR renderer breaks the hash.
    "sql_show_create" -> ((s, d) => {
      import graft.sql.{ChDdl, ChDdlRender}
      val ChDdl.CreateTable(t, _) = ChDdl.parse(
        """CREATE TABLE show_tbl (
          |  `k_id` UInt64,
          |  `seg` LowCardinality(String),
          |  `status` Enum8('open' = 1, 'closed' = 2),
          |  `d_day` Date,
          |  `price` Decimal(12, 2),
          |  `qty` UInt32 CODEC(Delta),
          |  `tag` FixedString(8),
          |  `loaded_at` DateTime MATERIALIZED now(),
          |  CONSTRAINT qty_pos CHECK qty >= 0,
          |  INDEX bf_seg seg TYPE bloom_filter GRANULARITY 1,
          |  INDEX mm_qty qty TYPE minmax GRANULARITY 1,
          |  INDEX set_status status TYPE set(8) GRANULARITY 1,
          |  INDEX tok_tag tag TYPE tokenbf_v1 GRANULARITY 1
          |) ENGINE = ReplacingMergeTree(loaded_at)
          |ORDER BY (seg, k_id)
          |PARTITION BY toYYYYMM(d_day)
          |SAMPLE BY k_id""".stripMargin, "/tmp/show_tbl")
      val rendered = ChDdlRender.render(t)
      ChDdl.parse(rendered, "/tmp/show_tbl") match {
        case ChDdl.CreateTable(t2, w2) =>
          require(t2 == t && w2.isEmpty,
            "SHOW CREATE round trip drifted from the registered definition")
        case other => throw new IllegalStateException(s"unexpected $other")
      }
      import s.implicits._
      Seq(rendered).toDF("ddl")
    }),

    // CH `SAMPLE k OFFSET m` through the dialect entry point: the text
    // runs as written; the rewrite swaps in the deterministic bucket
    // window over orders' declared sampling key (ChDialect.SampleKeys).
    // The oracle replays the SAME window via Sampling.duckPredicate —
    // both sides derive it from the one Catalog.sampleWindow rounding —
    // so the gate checks sample semantics exactly (this row set), not
    // statistically ("about 25%").
    "sql_sample" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT o_orderstatus, count() AS n,
          | round(sum(o_totalprice), 2) AS total
          |FROM orders SAMPLE 0.25 OFFSET 0.5
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // CH `LIMIT n BY` through the dialect (closing its last documented
    // refusal): per-group top-n in the query's own ORDER BY, rewritten
    // to a row_number window — runs as written from the reference's
    // dialect. The oracle is the standard rank formulation.
    "sql_limit_by" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
          |ORDER BY o_totalprice DESC, o_orderkey
          |LIMIT 2 BY o_orderstatus""".stripMargin)),

    // CH `ARRAY JOIN` (the clause form) through the dialect: unnests a
    // computed array per row — here the whitespace tokens of short docs,
    // the tokenize-then-aggregate shape every CH text pipeline uses —
    // rewritten to LATERAL VIEW explode. splitByChar rides along
    // (argument swap + \Q-quoted separator). The oracle is DuckDB's
    // native unnest over the same derivation.
    "sql_array_join" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT tok, count() AS n, uniqExact(doc_id) AS n_docs
          |FROM documents ARRAY JOIN splitByChar(' ', text) AS tok
          |WHERE doc_id < 500 AND tok != ''
          |GROUP BY tok HAVING count() >= 25
          |ORDER BY n DESC, tok LIMIT 50""".stripMargin)),

    // CH `ORDER BY … WITH FILL` through the dialect: gap-filled price
    // histogram — the fill axis FROM 0 TO 25 runs past the data's top
    // bucket (~16 at every SF), so filled rows exist at every scale and
    // CORRECTNESS pins both halves (kept real rows + injected grid rows
    // with NULL measures). The count is string-cast on BOTH sides so the
    // NULL-bearing measure column renders engine-independently.
    "sql_with_fill" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT bucket, toString(count()) AS n
          |FROM (SELECT CAST(floor(o_totalprice / 30000) AS INT) AS bucket
          |      FROM orders) t
          |GROUP BY bucket
          |ORDER BY bucket WITH FILL FROM 0 TO 25""".stripMargin)),

    // WITH FILL INTERPOLATE through the gate: the fill axis runs past
    // the data's top bucket and the interpolated measure CARRIES the
    // last actual row's count into every injected row (CH's bare
    // INTERPOLATE recurrence collapses to exactly this carry-forward).
    // The oracle replays the same carry as an IGNORE NULLS window over
    // the full-outer-joined axis.
    "sql_with_fill_interp" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT bucket, n FROM (
          |  SELECT CAST(floor(o_totalprice / 30000) AS INT) AS bucket,
          |         count() AS n
          |  FROM orders GROUP BY bucket) t
          |ORDER BY bucket WITH FILL FROM 0 TO 25 INTERPOLATE (n)""".stripMargin)),

    // The next-tier everyday-CH sweep in one statement: CH's
    // expression-WITH (a scalar-subquery alias + a constant alias),
    // toStartOfInterval's arbitrary-width bucket, the dateTrunc spelling,
    // and countDistinct — the idioms a pasted dashboard query hits first.
    // Time predicates compare on floor-seconds so the nanos-vs-micros
    // storage difference can't move a boundary row between engines.
    "sql_dialect2" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """WITH (SELECT min(ts) FROM events) AS t0, 21600 AS horizon_s
          |SELECT date_format(dateTrunc('hour', ts), 'yyyy-MM-dd HH:mm:ss') AS h,
          |  toUnixTimestamp(toStartOfInterval(ts, INTERVAL 15 MINUTE)) AS b15,
          |  countDistinct(user_id) AS u, count() AS n
          |FROM events
          |WHERE toUnixTimestamp(ts) < toUnixTimestamp(t0) + horizon_s
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // The parameterized-aggregate batch in one statement: CH's analytics
    // idioms `windowFunnel(w)(ts, …)` (per-user sorted fold, micros
    // precision), `sequenceMatch('(?1).*(?2).*(?3)')(…)`, `retention`,
    // `quantiles(…)(x)` (one percentile-array pass), and `topK(N)(x)`
    // (the SpaceSaving sketch via ch_topk — exact here, capacity 4N >
    // the 5 priorities). The funnel level histogram is the row grain;
    // the scalar families ride single-row CROSS JOINs. Every function is
    // parity-spec'd in isolation in ChSqlSpec.
    "sql_param_aggs" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT f.level, f.n_users, q.q25, q.q75, t.top3,
          |  r.day0, r.day1, sm.n_matched
          |FROM (
          |  SELECT level, count() AS n_users FROM (
          |    SELECT user_id,
          |      windowFunnel(86400)(ts, event_type = 'click',
          |        event_type = 'view', event_type = 'purchase') AS level
          |    FROM events GROUP BY user_id)
          |  GROUP BY level) f
          |CROSS JOIN (
          |  SELECT
          |    round(element_at(quantiles(0.25, 0.75)(l_extendedprice), 1), 4) AS q25,
          |    round(element_at(quantiles(0.25, 0.75)(l_extendedprice), 2), 4) AS q75
          |  FROM lineitem) q
          |CROSS JOIN (
          |  SELECT array_join(topK(3)(o_orderpriority), ',') AS top3
          |  FROM orders) t
          |CROSS JOIN (
          |  SELECT CAST(sum(element_at(r, 1)) AS BIGINT) AS day0,
          |         CAST(sum(element_at(r, 2)) AS BIGINT) AS day1
          |  FROM (SELECT retention(to_date(ts) = '2024-01-01',
          |                         to_date(ts) = '2024-01-02') AS r
          |        FROM events GROUP BY user_id)) r
          |CROSS JOIN (
          |  SELECT CAST(sum(m) AS BIGINT) AS n_matched
          |  FROM (SELECT sequenceMatch('(?1).*(?2).*(?3)')(ts,
          |          event_type = 'click', event_type = 'view',
          |          event_type = 'purchase') AS m
          |        FROM events GROUP BY user_id)) sm
          |ORDER BY f.level""".stripMargin)),

    // The `file()` table function through the gate — the reference's own
    // ingest statement SHAPE (types.json: positional `cN::Type AS name`
    // casts over a header-less TSV): a fixture TSV is exported from the
    // corpus' own top-50 orders (deterministic, driver-side — 50 rows),
    // the SELECT reads it back VERBATIM through file(), and the oracle
    // recomputes the aggregate from the ORIGINAL parquet — so the TSV
    // write, schema-on-read, positional casts, and aggregate must
    // compose losslessly. (ChSqlSpec runs the reference's actual commits
    // statement against /root/reference/types.json at test time.)
    "sql_file_scan" -> ((s, d) => {
      val tmp = CatalogOps.scratchDir("graft-file-scan")
      val tsv = tmp.resolve("orders50.tsv").toString
      val lines = Tables.orders(s, d).orderBy(col("o_orderkey")).limit(50)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
        .collect()
        .map(r => s"${r.get(0)}\t${r.get(1)}\t${r.get(2)}\t${r.get(3)}")
        .mkString("\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(tsv),
        lines.getBytes("UTF-8"))
      graft.sql.GraftSql.chSql(s, d,
        s"""SELECT status, count() AS n, round(sum(price), 2) AS total,
           |  toUnixTimestamp(max(odate)) AS last_day
           |FROM (
           |  SELECT c1::UInt64 AS okey, c2::String AS status,
           |    c3::Float64 AS price, c4::DateTime('UTC') AS odate
           |  FROM file('$tsv'))
           |GROUP BY status ORDER BY status""".stripMargin)
    }),

    // The everyday tier-3 sweep in one statement (round 12): boundary-
    // crossing dateDiff (CH's contract, NOT timestampdiff), the
    // arithmetic-array family over range(), the URL family over a
    // synthesized URL, the IPv4 render/parse round-trip, and the ISO
    // weekday — each function parity-spec'd in isolation in ChSqlSpec;
    // the gate proves they compose in one projection and survive the
    // DuckDB recompute. event_id < 300 keeps the row grain fixed across
    // scale probes (derived replicas shift event_id past the cut).
    "sql_dialect3" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """WITH (SELECT min(ts) FROM events) AS t0
          |SELECT event_id,
          |  CAST(dateDiff('day', t0, ts) AS BIGINT) AS dd,
          |  CAST(dateDiff('hour', t0, ts) AS BIGINT) AS dh,
          |  CAST(arraySum(arrayCumSum(range(CAST(user_id % 5 AS INT) + 1))) AS BIGINT) AS acs,
          |  CAST(arraySum(arrayDifference(range(CAST(event_id % 4 AS INT) + 2))) AS BIGINT) AS adf,
          |  domain(url) AS host,
          |  path(url) AS pth,
          |  extractURLParameter(url, 'k') AS k,
          |  IPv4NumToString(ipn) AS ip,
          |  IPv4StringToNum(IPv4NumToString(ipn)) = ipn AS rt,
          |  CAST(toDayOfWeek(ts) AS BIGINT) AS dow
          |FROM (SELECT event_id, user_id, ts,
          |        CAST(user_id * 2654435761 % 4294967296 AS BIGINT) AS ipn,
          |        concat('https://', event_type, '.example.com/u/',
          |               CAST(user_id AS STRING), '/p?k=',
          |               CAST(event_id % 97 AS STRING)) AS url
          |      FROM events WHERE event_id < 300)
          |ORDER BY event_id""".stripMargin)),

    // QUALIFY through the gate (round 12): the CH top-1-per-group idiom
    // with the window expression DIRECTLY in the predicate (the form
    // Spark's grammar can't hold — it hoists into a computed column),
    // plus a trailing ORDER BY/LIMIT tail that must stay outside the
    // nest. Ties break on o_orderkey so the winner is deterministic.
    "sql_qualify" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT o_custkey, o_orderkey, o_totalprice
          |FROM orders
          |QUALIFY row_number() OVER (PARTITION BY o_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey) = 1
          |ORDER BY o_custkey LIMIT 500""".stripMargin)),

    // The everyday tier-5 sweep in one statement (round 13 audit): the
    // raw-text JSON tier (ExtractRaw slices the SOURCE text — the
    // compact synthesized document makes the expected slice literal),
    // addDate/subDate, map HOFs (mapFilter arg-swap, mapUpdate
    // right-bias), array folds (arrayProduct/arrayFold/dotProduct/
    // L2Norm/cosineDistance), multi-needle search, substringIndex,
    // exp2, and the uniqUpTo(N) saturation contract as a scalar
    // subquery. Each spelling parity-spec'd in isolation in ChSqlSpec;
    // the gate proves composition + DuckDB recompute.
    "sql_dialect5" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT o_orderkey,
          |  formatDateTime(addDate(toDate('2024-01-05'),
          |    INTERVAL 3 DAY), '%Y-%m-%d') AS ad,
          |  formatDateTime(subDate(toDate('2024-01-05'),
          |    INTERVAL 2 DAY), '%Y-%m-%d') AS sd,
          |  JSONExtractRaw(j, 'a') AS jr,
          |  arrayStringConcat(JSONExtractKeys(j), '|') AS jk,
          |  arrayStringConcat(JSONExtractArrayRaw(j, 'c'), ',') AS jar,
          |  arrayStringConcat(arrayMap(v -> toString(v), mapValues(
          |    mapFilter((k, v) -> v > 1,
          |      map('a', 1, 'b', 2, 'c', CAST(o_orderkey % 3 AS INT))))),
          |    '|') AS mf,
          |  arrayStringConcat(arrayMap(v -> toString(v), mapValues(
          |    mapUpdate(map('a', 1, 'b', 2),
          |      map('b', CAST(o_orderkey % 7 AS INT))))), '|') AS mu,
          |  round(arrayProduct([2.0, CAST(o_orderkey % 3 + 1 AS Float64)]), 2) AS ap,
          |  CAST(arrayFold((acc, x) -> acc + x,
          |    range(CAST(o_orderkey % 5 AS INT) + 1),
          |    CAST(0 AS Int64)) AS Int64) AS af,
          |  multiMatchAny(o_orderpriority, ['URG', 'zzz']) AS mm,
          |  multiSearchFirstIndex(o_orderpriority, ['zzz', 'ENT']) AS mi,
          |  CAST(countMatches(o_orderpriority, '[AEIOU]') AS Int64) AS cm,
          |  substringIndex(o_orderpriority, '-', 1) AS si,
          |  round(exp2(CAST(o_orderkey % 5 AS INT)), 2) AS e2,
          |  (SELECT CAST(uniqUpTo(3)(o_orderstatus) AS Int64)
          |   FROM orders) AS u3,
          |  round(dotProduct([1.0, 2.0],
          |    [3.0, CAST(o_orderkey % 4 AS Float64)]), 2) AS dp,
          |  round(L2Norm([3.0, 4.0]), 2) AS l2,
          |  round(cosineDistance([1.0, 2.0],
          |    [2.0, CAST(o_orderkey % 3 + 1 AS Float64)]), 6) AS cd
          |FROM (SELECT o_orderkey, o_orderpriority,
          |        concat('{"a":{"b":', CAST(o_orderkey AS STRING),
          |               '},"c":[1,2,', CAST(o_orderkey % 9 AS STRING),
          |               ']}') AS j
          |      FROM orders WHERE o_orderkey < 300)
          |ORDER BY o_orderkey""".stripMargin)),

    // The State/Merge combinators as TEXT (round 13) — ClickHouse's MV
    // partial-aggregate idiom: per-day states built in one scope, merged
    // per event_type in another. sum/min/max states are their values,
    // count merges by SUM, avg's state is the (sum, count) struct, and
    // uniq's state is the HLL sketch binary (the agg_hll_merge
    // machinery) — its estimate folds to a tolerance boolean the oracle
    // restates as TRUE beside the exact distinct count.
    "sql_agg_state" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """WITH st AS (
          |  SELECT event_type, toDate(ts) AS d,
          |    sumState(value) AS sv, countState(value) AS c,
          |    avgState(value) AS av, minState(value) AS mn,
          |    maxState(value) AS mx, uniqState(user_id) AS u
          |  FROM events GROUP BY event_type, toDate(ts)),
          |ex AS (
          |  SELECT event_type, uniqExact(user_id) AS xu
          |  FROM events GROUP BY event_type)
          |SELECT st.event_type AS event_type,
          |  round(sumMerge(sv), 2) AS sv,
          |  CAST(countMerge(c) AS BIGINT) AS n,
          |  round(avgMerge(av), 4) AS av,
          |  round(minMerge(mn), 4) AS mn,
          |  round(maxMerge(mx), 4) AS mx,
          |  CAST(any(xu) AS BIGINT) AS n_users,
          |  (abs(CAST(uniqMerge(u) AS DOUBLE) / any(xu) - 1.0) < 0.05)
          |    AS hll_ok
          |FROM st JOIN ex ON st.event_type = ex.event_type
          |GROUP BY st.event_type ORDER BY event_type""".stripMargin)),

    // ASOF LEFT JOIN through the gate (round 13): the most common CH
    // time-series idiom as TEXT, lowered by the dialect onto equality
    // join + per-left-row row_number()=1 via the QUALIFY hoist — the
    // same semantics the join_asof operator oracles (TemporalJoins).
    // The oracle is DuckDB's NATIVE ASOF JOIN, so this is an
    // independent engine's asof recompute, not a restatement.
    "sql_asof" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT b.event_id AS event_id, b.user_id AS user_id,
          |  b.ts AS purchase_ts, c.ts AS last_click_ts
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') b
          |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          |  ON b.user_id = c.user_id AND b.ts >= c.ts
          |ORDER BY event_id""".stripMargin)),

    // LEFT ANY JOIN through the gate (round 14): CH's everyday
    // first-match enrichment idiom as TEXT, riding the X138 nest minus
    // the inequality. CH's ANY keeps an ARBITRARY match; this engine
    // keeps the JSON-least serialized right row (documented divergence
    // — the groupConcat stance), which the oracle restates as the
    // row_number()=1 dedup-build-side join ordered by the same column:
    // the right side's tag is fixed-width digits, so its plain string
    // order IS the serialized-struct order the tiebreaker computes.
    "sql_any_join" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT b.event_id AS event_id, b.user_id AS user_id,
          |  c.tag AS first_tag
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') b
          |LEFT ANY JOIN (SELECT user_id,
          |    lpad(CAST(CAST(floor(value) AS Int64) % 97 AS String),
          |         2, '0') AS tag
          |  FROM events WHERE event_type = 'click') c
          |  ON b.user_id = c.user_id
          |ORDER BY event_id""".stripMargin)),

    // WITH RECURSIVE through the gate (round 14): CH 24.3+'s recursive
    // CTE rides Spark 4.1's NATIVE recursive-CTE execution (UnionLoop)
    // untranslated — the dialect's rewrites (count(), toMonth) still
    // apply inside both the anchor and the recursive term, and the
    // recursive reference survives literal masking untouched. Depth is
    // bounded loudly on both engines (Spark cteRecursionLevelLimit =
    // 100 + cteRecursionRowLimit = 1e6 vs CH
    // max_recursive_cte_evaluation_depth = 1000) — a runaway recursion
    // errors, never silently truncates. At scale each iteration is one
    // distributed job over the PRIOR iteration's rows only (the month
    // spine here is 12 one-row steps; the orders side joins once,
    // after the spine converges).
    "sql_recursive_cte" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """WITH RECURSIVE mons AS (
          |  SELECT 1 AS mon
          |  UNION ALL SELECT mon + 1 FROM mons WHERE mon < 12)
          |SELECT mon, count(o.o_orderkey) AS n_orders,
          |  round(max(o.o_totalprice), 2) AS top_price
          |FROM mons LEFT JOIN orders o ON toMonth(o.o_orderdate) = mon
          |GROUP BY mon ORDER BY mon""".stripMargin)),

    // COLUMNS('regex') APPLY through the gate (round 14): the dynamic
    // wide-table selector expands via the analyzer probe into the
    // spelled-out column list — the oracle IS that spelled-out
    // restatement, so the expansion's column choice and order gate.
    // CH's own `fn(col)` result naming (pinned in ChSqlSpec) renames to
    // paren-free aliases here: the driver's hash compare sorts columns
    // BY NAME, and the repo contract keeps '(' out of gate schemas.
    "sql_columns_apply" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT l_returnflag AS rf,
          |  COLUMNS('^l_(quantity|extendedprice|discount)$') APPLY max
          |FROM lineitem GROUP BY rf ORDER BY rf""".stripMargin)
        .toDF("rf", "max_qty", "max_ep", "max_disc")),

    // numbers() + intDiv + the LIMIT offset,n comma form + FORMAT tail in
    // one statement — the everyday CH-CLI idioms, gate-checked together
    // (each is spec'd in isolation in ChSqlSpec).
    "sql_numbers" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT intDiv(number, 7) AS g, count() AS n,
          | CAST(sum(number) AS BIGINT) AS sm
          |FROM numbers(100) GROUP BY g ORDER BY g
          |LIMIT 2, 5 FORMAT JSONEachRow""".stripMargin)),

    // CH query result cache (`use_query_cache = 1`) through the gate:
    // the second invocation serves the STORED result — no job, no scan —
    // and must still hash-match the oracle's independent recompute. The
    // validity token is the source parquet's mtime (the catalog-table
    // form probes Catalog.tableVersion — QueryCacheSpec covers append/
    // delete invalidation); TTL and capacity behavior are spec'd with an
    // injected clock.
    "sql_query_cache" -> ((s, d) => {
      val text =
        """SELECT o_orderpriority, count(*) AS n,
          | round(sum(o_totalprice), 2) AS total
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
      def validity = Seq(d,
        java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(d, "orders.parquet")).toMillis.toString)
      val cache = graft.sql.GraftSql.queryCache
      cache.cached(s, text, validity)(graft.sql.GraftSql.sql(s, d, text))
      cache.cached(s, text, validity)(graft.sql.GraftSql.sql(s, d, text))
    }),

    // CH `WITH TOTALS` through the dialect: rewritten to GROUPING SETS
    // ((keys), ()) — the totals surface as the all-NULL-keys row of the
    // same relation (single result set; CH's side-channel block has no
    // SQL analog and the NULL-keys row is the standard shape).
    "sql_totals" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT l_returnflag, count() AS n,
          | round(sum(l_extendedprice), 2) AS revenue
          |FROM lineitem GROUP BY l_returnflag WITH TOTALS
          |ORDER BY l_returnflag NULLS FIRST""".stripMargin)),

    // WITH RECURSIVE through the engine's generic fixpoint (semi-naive,
    // Fixpoint.scala): ancestor closure over the implicit binary-tree
    // parent edge custkey -> floor(custkey/2), seeded from customers
    // <= 64 — chains up to 6 hops, every chain ending at root 1. The
    // oracle runs DuckDB's native WITH RECURSIVE; the Spark surface runs
    // ~log2(seed-max) frontier rounds, each a join of the (shrinking)
    // frontier against the edge relation.
    "cte_recursive" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val edges = cust.filter(col("c_custkey") > 1)
        .select(col("c_custkey").as("node"),
          floor(col("c_custkey") / 2).cast("long").as("parent"))
      val seed = cust.filter(col("c_custkey") <= 64)
        .select(col("c_custkey").as("start"), col("c_custkey").as("cur"))
      graft.plans.Fixpoint.recursive(seed, frontier =>
          frontier.join(edges, col("cur") === col("node"))
            .select(col("start"), col("parent").as("cur")))
        .groupBy(col("start"))
        .agg((count(lit(1)) - 1).as("n_ancestors"), min(col("cur")).as("root"))
        .orderBy(col("start"))
    }),

    // ---- scalar function families ----
    "fn_string" -> ((s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_type"), 1, 3).as("t3"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("bt"),
          length(col("p_name")).as("ln"))
        .orderBy(col("p_partkey"))),

    "fn_date" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).as("month_start"))
        .filter(col("y") === 2000)
        .orderBy(col("o_orderkey"))),

    "fn_math" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 500)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(sqrt(col("l_extendedprice")), 6).as("sq"),
          round(log(col("l_extendedprice")), 6).as("lg"),
          round(pow(col("l_discount"), 2), 6).as("p2"),
          floor(col("l_extendedprice")).as("fl"),
          ceil(col("l_extendedprice")).as("ce"),
          abs(col("l_discount") - 0.05).as("ab"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "fn_json" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .filter(col("k") > 90)
        .orderBy(col("event_id"))),

    "fn_array_explode" -> ((s, d) =>
      Tables.part(s, d)
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("word"))),

    // ---- time windows over the events stream table ----
    "ts_tumbling" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("val_sum"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("val_sum"))
        .orderBy(col("w_start"), col("event_type"))),

    "ts_sliding" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("n"))
        .orderBy(col("w_start"))),

    "ts_session" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("w.start").as("session_start"), col("n"))
        .orderBy(col("user_id"), col("session_start"))),

    // ClickHouse `ORDER BY … WITH FILL` analog: per-event_type 10-minute
    // counts with every missing bucket materialized as an explicit zero
    // row — the gap-filling a monitoring/training-curve consumer needs
    // (downstream diffs and moving averages break on absent buckets).
    //
    // Scale shape: the skeleton is sequence(min, max, step) exploded PER
    // GROUP — its size is the group's time span over the step, independent
    // of row count (a year of 10-min buckets is ~52k rows per type). The
    // left join back is keyed (event_type, bkt), the same keys the count
    // aggregate just shuffled on, so the skeleton join co-locates instead
    // of re-shuffling the fact stream.
    "ts_gap_fill" -> ((s, d) => {
      val step = 600L
      val counts = Tables.events(s, d)
        .select(col("event_type"),
          (floor(unix_timestamp(col("ts")) / step) * step).cast("long").as("bkt"))
        .groupBy(col("event_type"), col("bkt"))
        .agg(count(lit(1)).as("n"))
      val skeleton = counts.groupBy(col("event_type"))
        .agg(min(col("bkt")).as("lo"), max(col("bkt")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), lit(step))).as("bkt"))
      skeleton.join(counts, Seq("event_type", "bkt"), "left")
        .select(col("event_type"), col("bkt"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("event_type"), col("bkt"))
    }),

    // ORDER BY … WITH FILL INTERPOLATE analog: the dense per-series
    // skeleton of ts_gap_fill, but missing buckets take the LINEAR
    // interpolation between the nearest present neighbors (edges clamp
    // to the one available side). Neighbor discovery is two
    // ignoreNulls window passes per series — no self-join, no
    // per-gap loop; the window key is the series id, so throughput
    // scales with series count (real deployments interpolate per
    // (entity, metric), cardinality >> cores). `filled` marks which
    // rows are synthetic, as ClickHouse's WITH FILL leaves visible.
    "ts_interpolate" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val step = 600L
      val b = Tables.events(s, d)
        .select(col("event_type"),
          (floor(unix_timestamp(col("ts")) / step) * step).cast("long").as("bkt"),
          col("value"))
        .groupBy(col("event_type"), col("bkt"))
        .agg(avg(col("value")).as("v"))
      val sk = b.groupBy(col("event_type"))
        .agg(min(col("bkt")).as("lo"), max(col("bkt")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), lit(step))).as("bkt"))
      val prevW = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val nextW = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
        .rowsBetween(1, Window.unboundedFollowing)
      val pv = last(col("v"), ignoreNulls = true).over(prevW)
      val pb = last(when(col("v").isNotNull, col("bkt")), ignoreNulls = true)
        .over(prevW)
      val nv = first(col("v"), ignoreNulls = true).over(nextW)
      val nb = first(when(col("v").isNotNull, col("bkt")), ignoreNulls = true)
        .over(nextW)
      sk.join(b, Seq("event_type", "bkt"), "left")
        .select(col("event_type"), col("bkt"),
          col("v").isNull.cast("int").as("filled"),
          (floor(coalesce(col("v"),
            pv + (nv - pv) * (col("bkt") - pb) / (nb - pb), pv, nv)
            * 1e6 + 0.5) / 1e6).as("val"))
        .orderBy(col("event_type"), col("bkt"))
    }),

    // ---- ClickHouse query-surface analogs (round 6) ----
    // bit-function family (bitAnd/bitOr/bitXor/bitCount + aggregate
    // forms): pure codegen'd integer ops — narrow map + one groupBy.
    "fn_bitops" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"))
        .select(col("l_orderkey"),
          (col("l_partkey").bitwiseAND(col("l_suppkey"))).as("pk_and_sk"),
          (col("l_partkey").bitwiseOR(col("l_suppkey"))).as("pk_or_sk"),
          (col("l_partkey").bitwiseXOR(col("l_suppkey"))).as("pk_xor_sk"),
          bit_count(col("l_partkey")).as("pk_bits"),
          col("l_linenumber"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("pk_and_sk")).as("sum_and"),
          sum(col("pk_or_sk")).as("sum_or"),
          sum(col("pk_xor_sk")).as("sum_xor"),
          sum(col("pk_bits").cast("long")).as("sum_bits"),
          // groupBitOr analog: OR-fold of the line numbers as a bitmask
          bit_or(expr("shiftleft(1L, l_linenumber)")).as("line_mask"))
        .orderBy(col("l_orderkey"))
        .limit(1000)),

    // first_value / last_value / nth_value window family over each
    // customer's order history (ignoring no NULLs — keys are non-null):
    // one shuffle on the partition key, frame = full partition for the
    // last/nth (RANGE UNBOUNDED ... UNBOUNDED), default frame for first.
    "win_first_last" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("first_order", first(col("o_orderkey")).over(w))
        .withColumn("last_order", last(col("o_orderkey")).over(wFull))
        .withColumn("second_order", nth_value(col("o_orderkey"), 2).over(wFull))
        .select(col("o_custkey"), col("o_orderkey"), col("first_order"),
          col("last_order"), col("second_order"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // LIMIT n BY col: first 2 orders per customer by date. CH implements
    // this as a per-group limit inside the sort; the Spark altitude is a
    // row_number window over the group key — one shuffle on o_custkey,
    // then a codegen'd filter. Tiebreak on o_orderkey keeps both engines
    // deterministic on equal dates.
    "limit_by" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .drop("rn")
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // LIMIT n WITH TIES — rows tying the n-th sort key stay in. NOT a
    // global rank() window (a partitionless window single-threads the
    // whole table — the PlanSpec-banned shape): the scalable form is a
    // TakeOrderedAndProject for the n-th value (top-n per partition →
    // driver merges n rows; one scalar crosses back) followed by an
    // ordinary pushable >= filter over the table.
    "limit_ties" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      // bounded driver read: min of the top-10 slice — one double
      val cutoff = orders.select(col("o_totalprice"))
        .orderBy(col("o_totalprice").desc).limit(10)
        .agg(min(col("o_totalprice"))).head().getDouble(0)
      orders.filter(col("o_totalprice") >= cutoff)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    }),

    // SAMPLE k analog: CH tables declare SAMPLE BY intHash32(key) and a
    // query's `SAMPLE 1/5` reads the deterministic fifth of key-hash
    // space, scaling additive aggregates back up. Same shape here: the
    // polyHash kernel (the repo's cross-engine hash) over the sort key
    // picks hash residues {0,1} of 10 — a stable 20% sample — and counts
    // are multiplied by 5. The filter runs pre-shuffle, so at 100 TB the
    // aggregate shuffles a fifth of the rows; avg is reported unscaled
    // (ratio estimators don't rescale).
    "sample_key" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"),
          graft.functions.TextFns.polyHash(col("l_orderkey").cast("string")).as("h"))
        .filter(pmod(col("h"), lit(10)) < 2)
        .groupBy(col("l_returnflag"))
        .agg((count(lit(1)) * 5).as("est_rows"),
          round(sum(col("l_quantity")) * 5, 1).as("est_qty"),
          round(avg(col("l_quantity")), 6).as("avg_qty"))
        .orderBy(col("l_returnflag"))),

    // everyday tier 4, scalar families (round 12, second pass): regex
    // extract group choice, base64 round-trip, format placeholders,
    // date-part renders, OrZero/OrNull try-casts, CH type names inside
    // CAST, bit call forms, ladders, CH 4-arg transform — one projection,
    // every value recomputed closed-form by the oracle
    "sql_dialect4" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT o_orderkey,
          |  extract(o_orderpriority, '([A-Z]+)') AS pri,
          |  arrayStringConcat(extractAll(o_orderpriority, '[A-Z]+'), '|') AS pall,
          |  CAST(countSubstrings(o_orderpriority, 'E') AS Int64) AS ecnt,
          |  base64Decode(base64Encode(o_orderstatus)) AS st,
          |  format('{}#{}', o_orderstatus, o_orderpriority) AS tag,
          |  CAST(positionCaseInsensitive(o_orderpriority, 'urgent') AS Int64) AS up,
          |  CAST(toYYYYMMDD(o_orderdate) AS Int64) AS ymd,
          |  CAST(toRelativeDayNum(o_orderdate) AS Int64) AS rdn,
          |  dateName('month', o_orderdate) AS mname,
          |  toString(toMonday(o_orderdate)) AS mon,
          |  toInt64OrZero(o_orderstatus) AS oz,
          |  accurateCast(o_orderkey, 'String') AS ks,
          |  CAST(o_totalprice AS Float64) / 2 AS half,
          |  CAST(bitAnd(o_orderkey, 255) AS Int64) AS ba,
          |  CAST(bitTest(o_orderkey, 0) AS Int64) AS bt,
          |  CAST(intDivOrZero(o_orderkey, o_custkey % 5) AS Int64) AS idz,
          |  CAST(roundToExp2(o_orderkey + 1) AS Int64) AS e2,
          |  bin(o_orderkey % 256) AS bn,
          |  isFinite(o_totalprice) AS fin,
          |  transform(CAST(o_orderkey % 3 AS Int32), [0, 1],
          |            ['zero', 'one'], 'many') AS tr
          |FROM orders WHERE o_orderkey < 500
          |ORDER BY o_orderkey""".stripMargin)),

    // everyday tier 4, aggregate families: moment renames, bit
    // aggregates, avgWeighted, sumCount field access, groupConcat
    // (order-free length projection), sumMap key-wise merge with CH's
    // sorted-keys contract projected to strings
    "sql_agg_dialect" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT o_orderstatus,
          |  round(stddevPop(o_totalprice), 4) AS sp,
          |  round(varSamp(o_totalprice), 4) AS vs,
          |  round(covarPop(o_totalprice, CAST(o_custkey AS Float64)), 4) AS cv,
          |  round(avgWeighted(o_totalprice, (o_orderkey % 7) + 1), 4) AS aw,
          |  CAST(groupBitAnd(o_orderkey) AS Int64) AS gba,
          |  CAST(groupBitOr(o_orderkey) AS Int64) AS gbo,
          |  CAST(groupBitXor(o_orderkey) AS Int64) AS gbx,
          |  sumCount(o_totalprice).count AS cnt,
          |  round(sumCount(o_totalprice).sum, 2) AS tot,
          |  CAST(length(groupConcat(',')(o_orderpriority)) AS Int64) AS gclen,
          |  arrayStringConcat(mapKeys(sumMap(map(o_orderpriority, 1.0))), '|') AS mk,
          |  arrayStringConcat(arrayMap(v -> toString(toInt64(v)),
          |    mapValues(sumMap(map(o_orderpriority, 1.0)))), '|') AS mv
          |FROM orders GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin)),

    // DISTINCT ON → LIMIT 1 BY, composed with GLOBAL IN (the keyword
    // drops — Spark's optimizer owns the broadcast decision)
    "sql_select_modifiers" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
          |FROM orders
          |WHERE o_custkey GLOBAL IN (SELECT c_custkey FROM customer
          |                           WHERE c_custkey % 3 = 0)
          |ORDER BY o_custkey, o_totalprice DESC, o_orderkey
          |LIMIT 150""".stripMargin)),

    // * REPLACE (in-place column substitution through the analyzer
    // probe) + LIMIT WITH TIES (rank over the REPLACED output column —
    // the bucketed price creates real tie groups the rank must extend)
    "sql_star_ties" -> ((s, d) =>
      graft.sql.GraftSql.chSql(s, d,
        """SELECT * REPLACE (CAST(round(o_totalprice / 20000) AS Int64)
          |                  AS o_totalprice)
          |FROM orders
          |ORDER BY o_totalprice
          |LIMIT 100 WITH TIES""".stripMargin)),
  )

  override def oracleSql: Map[String, String] = Map(
    "join_broadcast" ->
      """SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "join_shuffle" ->
      """SELECT o_orderstatus, round(sum(l_extendedprice), 2) AS sum_price,
        | count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "join_skew_salted" ->
      """SELECT n_name, count(*) AS n, sum(event_id)::BIGINT AS id_sum
        |FROM (SELECT CASE WHEN event_id % 10 < 8 THEN 0
        |             ELSE user_id % 25 END AS nkey, event_id FROM events) e
        |JOIN nation ON n_nationkey = e.nkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "join_left_outer" ->
      """SELECT n_name, count(s_suppkey) AS n_supp
        |FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "join_full_outer" ->
      """WITH clicks AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS n_click FROM events
        |  WHERE event_type = 'click' GROUP BY 1),
        |buys AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS n_buy FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT strftime(COALESCE(clicks.d, buys.d), '%Y-%m-%d') AS d, n_click, n_buy
        |FROM clicks FULL OUTER JOIN buys ON clicks.d = buys.d
        |ORDER BY d""".stripMargin,

    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q3_shipping" ->
      """SELECT l_orderkey,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        | AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 20""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        | AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        | AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "join_null_safe" ->
      """WITH n AS (SELECT n_name, nullif(n_regionkey, 0) AS rk FROM nation),
        |r AS (SELECT nullif(r_regionkey, 0) AS rk, r_name FROM region)
        |SELECT n_name, r_name FROM n JOIN r ON n.rk IS NOT DISTINCT FROM r.rk
        |ORDER BY n_name, r_name""".stripMargin,

    "agg_pivot" ->
      """SELECT l_returnflag,
        | round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS "F",
        | round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "distinct_rows" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        | TRUE AS approx_within_3sd
        |FROM lineitem""".stripMargin,

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "agg_totals" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "agg_totals_having" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), ())
        |HAVING (grouping(l_returnflag) = 1 AND grouping(l_linestatus) = 1)
        |    OR count(*) > 10000
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "win_rank" ->
      """SELECT o_orderstatus, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT *, rank() OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders)
        |WHERE rnk <= 5 ORDER BY o_orderstatus, rnk, o_orderkey""".stripMargin,

    "win_lag" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey) AS prev_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "win_moving_range" ->
      """SELECT event_id, user_id, epoch,
        | count(*) OVER w AS mov_n,
        | round(sum(value) OVER w, 4) AS mov_sum
        |FROM (SELECT event_id, user_id,
        |        CAST(floor(epoch(ts)) AS BIGINT) AS epoch, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "win_ntile_dense" ->
      """SELECT c_custkey, quartile, drnk FROM (
        |  SELECT c_custkey,
        |    ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile,
        |    dense_rank() OVER (ORDER BY c_acctbal DESC, c_custkey) AS drnk
        |  FROM customer)
        |WHERE drnk <= 40 ORDER BY c_custkey""".stripMargin,

    "win_dist" ->
      """SELECT o_orderstatus, o_orderkey,
        | floor(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pr,
        | floor(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cd,
        | first_value(o_orderkey) OVER wf AS first_key,
        | nth_value(o_orderkey, 2) OVER wf AS second_key
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "set_union" ->
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY k""".stripMargin,

    "set_except" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'P'
        |ORDER BY k""".stripMargin,

    "set_intersect" ->
      """SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY k""".stripMargin,

    "win_derivative" ->
      """SELECT event_type, event_id,
        |  round(coalesce(value - prev_v, 0), 4) AS diff,
        |  floor((CASE WHEN dt > 0
        |             THEN greatest((value - prev_v) / dt, 0)
        |             ELSE 0 END) * 1e6 + 0.5) / 1e6 AS nn_deriv
        |FROM (
        |  SELECT event_type, event_id, value,
        |    lag(value) OVER w AS prev_v,
        |    floor(epoch(ts))::BIGINT
        |      - lag(floor(epoch(ts))::BIGINT) OVER w AS dt
        |  FROM events WHERE event_id < 2000
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)) t
        |ORDER BY event_type, event_id""".stripMargin,

    "set_except_all" ->
      """SELECT k, count(*) AS n FROM (
        |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT ALL
        |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
        |GROUP BY k ORDER BY k""".stripMargin,

    "set_intersect_all" ->
      """SELECT k, count(*) AS n FROM (
        |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT ALL
        |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
        |GROUP BY k ORDER BY k""".stripMargin,

    // WITH TIES restated as a rank() filter (portable across engines;
    // the engine-side query uses the top-k + pushable-filter shape, not
    // a global window)
    "limit_ties" ->
      """SELECT o_orderkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_totalprice,
        |         rank() OVER (ORDER BY o_totalprice DESC) AS r
        |  FROM orders) t WHERE r <= 10
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,

    // the parameterized view with its two bindings inlined by hand
    "sql_param_view" ->
      """SELECT o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_totalprice >= 50000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the exact SHOW CREATE text, pinned as a literal (escaped for SQL):
    // drift in the parser OR renderer breaks the hash
    "sql_show_create" ->
      ("SELECT '" + ShowCreateExpected.replace("'", "''") + "' AS ddl"),

    // the function macros inlined by hand
    "sql_udf_call" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem WHERE l_quantity > 30
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the same bucket window, rendered by the shared formatter — a
    // lexicographic hex compare, equivalent to the numeric bucket compare
    "sql_sample" ->
      s"""SELECT o_orderstatus, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE ${Sampling.duckPredicate("o_orderkey", 0.25, 0.5)}
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "sql_totals" ->
      """SELECT l_returnflag, count(*) AS n,
        | round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST""".stripMargin,

    "sql_limit_by" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 2
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,

    // DuckDB's native range() (end-exclusive, like CH's TO) restates the
    // fill axis; the FULL OUTER JOIN is the same keep-all + inject shape
    "sql_with_fill" ->
      """SELECT coalesce(q.bucket, g.range) AS bucket, q.n
        |FROM (SELECT CAST(floor(o_totalprice / 30000) AS INT) AS bucket,
        |             CAST(count(*) AS VARCHAR) AS n
        |      FROM orders GROUP BY 1) q
        |FULL OUTER JOIN range(0, 25) g ON q.bucket = g.range
        |ORDER BY bucket""".stripMargin,

    "sql_array_join" ->
      """SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents WHERE doc_id < 500) t
        |WHERE tok != ''
        |GROUP BY tok HAVING count(*) >= 25
        |ORDER BY n DESC, tok LIMIT 50""".stripMargin,

    "sql_numbers" ->
      """SELECT number // 7 AS g, count(*) AS n,
        | CAST(sum(number) AS BIGINT) AS sm
        |FROM range(100) t(number) GROUP BY 1 ORDER BY 1
        |LIMIT 5 OFFSET 2""".stripMargin,

    // every tier-5 form restated portably: the raw-JSON slices as
    // string concatenation over the same compact source, the folds as
    // closed forms, the map HOFs as CASE arms over the literal maps
    "sql_dialect5" ->
      """SELECT o_orderkey,
        | '2024-01-08' AS ad, '2024-01-03' AS sd,
        | '{"b":' || CAST(o_orderkey AS VARCHAR) || '}' AS jr,
        | 'a|c' AS jk,
        | '1,2,' || CAST(o_orderkey % 9 AS VARCHAR) AS jar,
        | CASE WHEN o_orderkey % 3 = 2 THEN '2|2' ELSE '2' END AS mf,
        | '1|' || CAST(o_orderkey % 7 AS VARCHAR) AS mu,
        | round(2.0 * (o_orderkey % 3 + 1), 2) AS ap,
        | CAST((o_orderkey % 5) * ((o_orderkey % 5) + 1) // 2 AS BIGINT) AS af,
        | (o_orderpriority LIKE '%URG%' OR o_orderpriority LIKE '%zzz%') AS mm,
        | CASE WHEN position('ENT' IN o_orderpriority) > 0 THEN 2 ELSE 0 END AS mi,
        | CAST(length(regexp_replace(o_orderpriority, '[^AEIOU]', '', 'g')) AS BIGINT) AS cm,
        | split_part(o_orderpriority, '-', 1) AS si,
        | round(pow(2.0, o_orderkey % 5), 2) AS e2,
        | (SELECT CAST(least(count(DISTINCT o_orderstatus), 4) AS BIGINT)
        |  FROM orders) AS u3,
        | round(3.0 + 2.0 * (o_orderkey % 4), 2) AS dp,
        | round(sqrt(25.0), 2) AS l2,
        | round(1.0 - (2.0 + 2.0 * (o_orderkey % 3 + 1)) /
        |   (sqrt(5.0) * sqrt(4.0 + (o_orderkey % 3 + 1) * (o_orderkey % 3 + 1))), 6) AS cd
        |FROM orders WHERE o_orderkey < 300
        |ORDER BY o_orderkey""".stripMargin,

    // the two-level State/Merge pipeline restated as ONE exact pass —
    // merging partials must be indistinguishable from direct aggregation
    "sql_agg_state" ->
      """SELECT event_type, round(sum(value), 2) AS sv,
        | count(value) AS n, round(avg(value), 4) AS av,
        | round(min(value), 4) AS mn, round(max(value), 4) AS mx,
        | count(DISTINCT user_id) AS n_users, TRUE AS hll_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // DuckDB's NATIVE ASOF JOIN — an independent asof implementation
    // recomputing the dialect door's result
    "sql_asof" ->
      """SELECT b.event_id AS event_id, b.user_id AS user_id,
        | b.ts AS purchase_ts, c.ts AS last_click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') b
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON b.user_id = c.user_id AND b.ts >= c.ts
        |ORDER BY b.event_id""".stripMargin,

    // the ANY pick restated as the dedup-build-side join: one row per
    // key, elected by the SAME order the engine's serialized-row
    // tiebreaker computes (fixed-width digit tag → plain string order)
    "sql_any_join" ->
      """SELECT b.event_id AS event_id, b.user_id AS user_id,
        | c.tag AS first_tag
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') b
        |LEFT JOIN (
        |  SELECT user_id, tag FROM (
        |    SELECT user_id,
        |      lpad(CAST(CAST(floor(value) AS BIGINT) % 97 AS VARCHAR),
        |           2, '0') AS tag,
        |      row_number() OVER (PARTITION BY user_id ORDER BY
        |        lpad(CAST(CAST(floor(value) AS BIGINT) % 97 AS VARCHAR),
        |             2, '0')) AS rn
        |    FROM events WHERE event_type = 'click') t
        |  WHERE rn = 1) c
        |ON b.user_id = c.user_id
        |ORDER BY b.event_id""".stripMargin,

    // DuckDB's own recursive-CTE engine recomputes the month spine —
    // an independent recursion implementation, not a restatement
    "sql_recursive_cte" ->
      """WITH RECURSIVE mons AS (
        |  SELECT 1 AS mon
        |  UNION ALL SELECT mon + 1 FROM mons WHERE mon < 12)
        |SELECT mon, count(o.o_orderkey) AS n_orders,
        |  round(max(o.o_totalprice), 2) AS top_price
        |FROM mons LEFT JOIN orders o
        |  ON EXTRACT(month FROM o.o_orderdate) = mon
        |GROUP BY mon ORDER BY mon""".stripMargin,

    // the selector expansion spelled out by hand (the gate renames CH's
    // fn(col) naming to these paren-free aliases — see the queries note)
    "sql_columns_apply" ->
      """SELECT l_returnflag AS rf,
        | max(l_quantity) AS max_qty,
        | max(l_extendedprice) AS max_ep,
        | max(l_discount) AS max_disc
        |FROM lineitem GROUP BY rf ORDER BY rf""".stripMargin,

    // the QUALIFY nest restated portably (row_number subquery) — runs
    // unchanged in DuckDB and through our own session
    "sql_qualify" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey LIMIT 500""".stripMargin,

    // the same keep-all + inject join, with the carry restated as an
    // IGNORE NULLS window over the axis order
    "sql_with_fill_interp" ->
      """WITH q AS (SELECT CAST(floor(o_totalprice / 30000) AS INT) AS bucket,
        |             count(*) AS n FROM orders GROUP BY 1),
        |j AS (SELECT coalesce(q.bucket, g.range) AS bucket, q.n AS n_raw
        |      FROM q FULL OUTER JOIN range(0, 25) g ON q.bucket = g.range)
        |SELECT bucket,
        |  CASE WHEN n_raw IS NULL THEN last_value(n_raw IGNORE NULLS) OVER
        |    (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |  ELSE n_raw END AS n
        |FROM j ORDER BY bucket""".stripMargin,

    // every dialect form restated natively: epoch-grid 15-minute floor,
    // hour trunc, distinct count, the scalar-subquery horizon
    "sql_dialect2" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
        | (CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900 AS b15,
        | count(DISTINCT user_id) AS u, count(*) AS n
        |FROM events
        |WHERE CAST(floor(epoch(ts)) AS BIGINT) <
        |  (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) + 21600 FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // every parameterized aggregate recomputed natively: the funnel's
    // min-chain joins (the agg_funnel oracle shape), quantile_cont,
    // exact (count desc, value asc) top-3, retention flag products, and
    // the windowless chain count
    "sql_param_aggs" ->
      """WITH ev AS (SELECT user_id, ts, event_type FROM events),
        |t1 AS (SELECT user_id, min(ts) AS t1 FROM ev
        |       WHERE event_type = 'click' GROUP BY user_id),
        |t2 AS (SELECT ev.user_id, min(ev.ts) AS t2, min(t1.t1) AS t1
        |       FROM ev JOIN t1 ON ev.user_id = t1.user_id
        |       WHERE ev.event_type = 'view'
        |         AND ev.ts > t1.t1 AND ev.ts <= t1.t1 + INTERVAL 24 HOURS
        |       GROUP BY ev.user_id),
        |t3 AS (SELECT ev.user_id, min(ev.ts) AS t3
        |       FROM ev JOIN t2 ON ev.user_id = t2.user_id
        |       WHERE ev.event_type = 'purchase'
        |         AND ev.ts > t2.t2 AND ev.ts <= t2.t1 + INTERVAL 24 HOURS
        |       GROUP BY ev.user_id),
        |lv AS (
        |  SELECT u.user_id,
        |    CASE WHEN t3.user_id IS NOT NULL THEN 3
        |         WHEN t2.user_id IS NOT NULL THEN 2
        |         WHEN t1.user_id IS NOT NULL THEN 1 ELSE 0 END AS level
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  LEFT JOIN t1 ON u.user_id = t1.user_id
        |  LEFT JOIN t2 ON u.user_id = t2.user_id
        |  LEFT JOIN t3 ON u.user_id = t3.user_id),
        |f AS (SELECT level, count(*)::BIGINT AS n_users FROM lv
        |      GROUP BY level),
        |q AS (SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS q25,
        |             round(quantile_cont(l_extendedprice, 0.75), 4) AS q75
        |      FROM lineitem),
        |tk AS (SELECT string_agg(v, ',' ORDER BY c DESC, v) AS top3
        |       FROM (SELECT o_orderpriority AS v, count(*) AS c
        |             FROM orders GROUP BY 1 ORDER BY c DESC, v LIMIT 3)),
        |r AS (SELECT sum(d0)::BIGINT AS day0, sum(d0 * d1)::BIGINT AS day1
        |      FROM (SELECT user_id,
        |        max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-01'
        |            THEN 1 ELSE 0 END) AS d0,
        |        max(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-02'
        |            THEN 1 ELSE 0 END) AS d1
        |        FROM events GROUP BY user_id)),
        |s2 AS (SELECT ev.user_id, min(ev.ts) AS t2
        |       FROM ev JOIN t1 ON ev.user_id = t1.user_id
        |       WHERE ev.event_type = 'view' AND ev.ts > t1.t1
        |       GROUP BY ev.user_id),
        |s3 AS (SELECT ev.user_id FROM ev JOIN s2 ON ev.user_id = s2.user_id
        |       WHERE ev.event_type = 'purchase' AND ev.ts > s2.t2
        |       GROUP BY ev.user_id),
        |sm AS (SELECT count(*)::BIGINT AS n_matched FROM s3)
        |SELECT f.level, f.n_users, q.q25, q.q75, tk.top3,
        |  r.day0, r.day1, sm.n_matched
        |FROM f CROSS JOIN q CROSS JOIN tk CROSS JOIN r CROSS JOIN sm
        |ORDER BY f.level""".stripMargin,

    // the fixture TSV is the corpus' own top-50 orders — the oracle
    // recomputes the aggregate straight from the parquet
    "sql_file_scan" ->
      """WITH top50 AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 50)
        |SELECT o_orderstatus AS status, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  CAST(floor(epoch(max(CAST(o_orderdate AS TIMESTAMP)))) AS BIGINT)
        |    AS last_day
        |FROM top50 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the tier-3 sweep restated natively: DuckDB's date_diff shares CH's
    // boundary-crossing contract; the prefix-sum-of-cumsum and the
    // difference-sum collapse to closed forms ((m-1)m(m+1)/6 and n-1 —
    // products of consecutive integers, exactly divisible); URL probes
    // via regex; octet arithmetic; isodow
    "sql_dialect3" ->
      """WITH base AS (
        |  SELECT event_id, user_id, ts,
        |    (user_id * 2654435761) % 4294967296 AS ipn,
        |    'https://' || event_type || '.example.com/u/' ||
        |      CAST(user_id AS VARCHAR) || '/p?k=' ||
        |      CAST(event_id % 97 AS VARCHAR) AS url
        |  FROM events WHERE event_id < 300),
        |t0 AS (SELECT min(ts) AS t0 FROM events)
        |SELECT event_id,
        |  date_diff('day', t0.t0, base.ts)::BIGINT AS dd,
        |  date_diff('hour', t0.t0, base.ts)::BIGINT AS dh,
        |  ((user_id % 5) * (user_id % 5 + 1) * (user_id % 5 + 2) // 6)::BIGINT AS acs,
        |  (event_id % 4 + 1)::BIGINT AS adf,
        |  regexp_extract(url, 'https://([^/]+)/', 1) AS host,
        |  regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS pth,
        |  regexp_extract(url, '[?&]k=([^&#]*)', 1) AS k,
        |  CAST(ipn // 16777216 % 256 AS VARCHAR) || '.' ||
        |    CAST(ipn // 65536 % 256 AS VARCHAR) || '.' ||
        |    CAST(ipn // 256 % 256 AS VARCHAR) || '.' ||
        |    CAST(ipn % 256 AS VARCHAR) AS ip,
        |  TRUE AS rt,
        |  isodow(ts)::BIGINT AS dow
        |FROM base, t0
        |ORDER BY event_id""".stripMargin,

    // the oracle recomputes what the cache served
    "sql_query_cache" ->
      """SELECT o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // DuckDB's native recursion restates the fixpoint: UNION (distinct)
    // recursion over the same edge derivation
    "cte_recursive" ->
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS start, c_custkey AS cur
        |  FROM customer WHERE c_custkey <= 64
        |  UNION
        |  SELECT a.start, CAST(floor(e.c_custkey / 2) AS BIGINT) AS cur
        |  FROM anc a JOIN customer e
        |    ON a.cur = e.c_custkey AND e.c_custkey > 1)
        |SELECT start, count(*) - 1 AS n_ancestors, min(cur) AS root
        |FROM anc GROUP BY start ORDER BY start""".stripMargin,

    "fn_string" ->
      """SELECT p_partkey, upper(p_name) AS uname, substr(p_type, 1, 3) AS t3,
        | concat(p_brand, '-', p_type) AS bt, length(p_name) AS ln
        |FROM part WHERE p_name LIKE '%widget%' ORDER BY p_partkey""".stripMargin,

    "fn_date" ->
      """SELECT o_orderkey, CAST(date_part('year', o_orderdate) AS INTEGER) AS y,
        | CAST(date_part('month', o_orderdate) AS INTEGER) AS m,
        | CAST(date_part('day', o_orderdate) AS INTEGER) AS dom,
        | date_trunc('month', o_orderdate) AS month_start
        |FROM orders WHERE date_part('year', o_orderdate) = 2000
        |ORDER BY o_orderkey""".stripMargin,

    "fn_math" ->
      """SELECT l_orderkey, l_linenumber,
        | round(sqrt(l_extendedprice), 6) AS sq,
        | round(ln(l_extendedprice), 6) AS lg,
        | round(pow(l_discount, 2), 6) AS p2,
        | CAST(floor(l_extendedprice) AS BIGINT) AS fl,
        | CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
        | abs(l_discount - 0.05) AS ab
        |FROM lineitem WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "fn_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 90
        |ORDER BY event_id""".stripMargin,

    "fn_array_explode" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        |GROUP BY word ORDER BY word""".stripMargin,

    "ts_tumbling" ->
      """SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type,
        | count(*) AS n, round(sum(value), 2) AS val_sum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ts_sliding" ->
      """SELECT w_start, count(*) AS n FROM (
        |  SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
        |                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
        |                ]) AS w_start
        |  FROM events)
        |GROUP BY w_start ORDER BY w_start""".stripMargin,

    "ts_session" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |         >= INTERVAL '5 minutes'
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "ts_interpolate" ->
      """WITH b AS (
        |  SELECT event_type,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 600) * 600 AS bkt,
        |    avg(value) AS v
        |  FROM events GROUP BY 1, 2),
        |sk AS (
        |  SELECT event_type, unnest(generate_series(lo, hi, 600)) AS bkt
        |  FROM (SELECT event_type, min(bkt) AS lo, max(bkt) AS hi
        |        FROM b GROUP BY 1)),
        |j AS (SELECT sk.event_type, sk.bkt, b.v
        |      FROM sk LEFT JOIN b USING (event_type, bkt)),
        |w AS (
        |  SELECT event_type, bkt, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN bkt END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY bkt
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY bkt ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN bkt END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY bkt
        |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nb
        |  FROM j)
        |SELECT event_type, bkt,
        |  CAST(v IS NULL AS INT) AS filled,
        |  floor(coalesce(v, pv + (nv - pv) * (bkt - pb) / (nb - pb), pv, nv)
        |        * 1e6 + 0.5) / 1e6 AS val
        |FROM w ORDER BY event_type, bkt""".stripMargin,

    "ts_gap_fill" ->
      """WITH b AS (
        |  -- floor() before the BIGINT cast: epoch() on a nanos timestamp
        |  -- is a DOUBLE and DuckDB's double->int cast ROUNDS, which would
        |  -- shift any .5+ fractional second into the next bucket while
        |  -- Spark's unix_timestamp() floors
        |  SELECT event_type, (floor(epoch(ts))::BIGINT // 600) * 600 AS bkt,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, min(bkt) AS lo, max(bkt) AS hi
        |      FROM b GROUP BY 1),
        |a AS (SELECT event_type, unnest(generate_series(lo, hi, 600)) AS bkt
        |      FROM r)
        |SELECT a.event_type, a.bkt, coalesce(b.n, 0) AS n
        |FROM a LEFT JOIN b USING (event_type, bkt)
        |ORDER BY event_type, bkt""".stripMargin,

    "fn_bitops" ->
      """SELECT l_orderkey, count(*) AS n,
        |  sum(l_partkey & l_suppkey)::BIGINT AS sum_and,
        |  sum(l_partkey | l_suppkey)::BIGINT AS sum_or,
        |  sum(xor(l_partkey, l_suppkey))::BIGINT AS sum_xor,
        |  sum(bit_count(l_partkey))::BIGINT AS sum_bits,
        |  bit_or(1::BIGINT << l_linenumber) AS line_mask
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY l_orderkey LIMIT 1000""".stripMargin,

    "win_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_order,
        |  last_value(o_orderkey) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS last_order,
        |  nth_value(o_orderkey, 2) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "limit_by" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 2 ORDER BY o_custkey, o_orderkey""".stripMargin,

    "sample_key" ->
      """SELECT l_returnflag, count(*) * 5 AS est_rows,
        |  round(sum(l_quantity) * 5, 1) AS est_qty,
        |  round(avg(l_quantity), 6) AS avg_qty
        |FROM (
        |  SELECT l_returnflag, l_quantity,
        |    list_reduce(
        |      list_prepend(0::BIGINT,
        |        [unicode(c) for c in string_split(l_orderkey::VARCHAR, '')]),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
        |  FROM lineitem)
        |WHERE h % 10 < 2
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "sql_dialect4" ->
      """SELECT o_orderkey,
        |  regexp_extract(o_orderpriority, '([A-Z]+)', 1) AS pri,
        |  array_to_string(regexp_extract_all(o_orderpriority, '[A-Z]+'), '|') AS pall,
        |  ((length(o_orderpriority) -
        |    length(replace(o_orderpriority, 'E', ''))) // 1)::BIGINT AS ecnt,
        |  o_orderstatus AS st,
        |  o_orderstatus || '#' || o_orderpriority AS tag,
        |  strpos(lower(o_orderpriority), 'urgent')::BIGINT AS up,
        |  CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS ymd,
        |  date_diff('day', DATE '1970-01-01',
        |            CAST(o_orderdate AS DATE))::BIGINT AS rdn,
        |  strftime(o_orderdate, '%B') AS mname,
        |  strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS mon,
        |  COALESCE(TRY_CAST(o_orderstatus AS BIGINT), 0) AS oz,
        |  CAST(o_orderkey AS VARCHAR) AS ks,
        |  o_totalprice / 2 AS half,
        |  (o_orderkey & 255)::BIGINT AS ba,
        |  (o_orderkey & 1)::BIGINT AS bt,
        |  (CASE WHEN o_custkey % 5 = 0 THEN 0
        |        ELSE o_orderkey // (o_custkey % 5) END)::BIGINT AS idz,
        |  (CASE WHEN o_orderkey + 1 < 1 THEN 0
        |        ELSE CAST(pow(2, floor(log2(o_orderkey + 1))) AS BIGINT)
        |   END)::BIGINT AS e2,
        |  lpad(bin(o_orderkey % 256),
        |       CAST(ceil(length(bin(o_orderkey % 256)) / 8.0) * 8 AS INT),
        |       '0') AS bn,
        |  TRUE AS fin,
        |  (CASE WHEN o_orderkey % 3 = 0 THEN 'zero'
        |        WHEN o_orderkey % 3 = 1 THEN 'one' ELSE 'many' END) AS tr
        |FROM orders WHERE o_orderkey < 500
        |ORDER BY o_orderkey""".stripMargin,

    "sql_agg_dialect" ->
      """WITH pc AS (
        |  SELECT o_orderstatus AS st, o_orderpriority AS p,
        |         count(*)::BIGINT AS n
        |  FROM orders GROUP BY 1, 2),
        |agg AS (
        |  SELECT o_orderstatus AS st,
        |    round(stddev_pop(o_totalprice), 4) AS sp,
        |    round(var_samp(o_totalprice), 4) AS vs,
        |    round(covar_pop(o_totalprice, o_custkey::DOUBLE), 4) AS cv,
        |    round(sum(o_totalprice * ((o_orderkey % 7) + 1)) /
        |          sum((o_orderkey % 7) + 1), 4) AS aw,
        |    bit_and(o_orderkey)::BIGINT AS gba,
        |    bit_or(o_orderkey)::BIGINT AS gbo,
        |    bit_xor(o_orderkey)::BIGINT AS gbx,
        |    count(o_totalprice)::BIGINT AS cnt,
        |    round(sum(o_totalprice), 2) AS tot,
        |    (sum(length(o_orderpriority)) + count(*) - 1)::BIGINT AS gclen
        |  FROM orders GROUP BY 1)
        |SELECT agg.st AS o_orderstatus, sp, vs, cv, aw, gba, gbo, gbx,
        |  cnt, tot, gclen,
        |  (SELECT string_agg(p, '|' ORDER BY p)
        |   FROM pc WHERE pc.st = agg.st) AS mk,
        |  (SELECT string_agg(n::VARCHAR, '|' ORDER BY p)
        |   FROM pc WHERE pc.st = agg.st) AS mv
        |FROM agg ORDER BY o_orderstatus""".stripMargin,

    "sql_select_modifiers" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders
        |  WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                      WHERE c_custkey % 3 = 0))
        |WHERE rn = 1
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey
        |LIMIT 150""".stripMargin,

    "sql_star_ties" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CAST(round(o_totalprice / 20000) AS BIGINT) AS o_totalprice,
        |    o_orderdate, o_orderpriority,
        |    rank() OVER (ORDER BY CAST(round(o_totalprice / 20000)
        |                               AS BIGINT)) AS rnk
        |  FROM orders)
        |WHERE rnk <= 100
        |ORDER BY o_totalprice""".stripMargin,
  )
}
