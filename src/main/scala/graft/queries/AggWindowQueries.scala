package graft.queries

import graft.io.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Aggregations (SURVEY §2.6), window functions (§2.7 incl. the reference's
  * stateful duplicate-name numbering re-expressed as row_number), sorts/
  * limits (§2.8), and set operations (§2.9).
  */
object AggWindowQueries {

  /** Exact rank-function derivations from a bucketed per-group
    * (row_number, count) — [[graft.operators.GroupedRank]]'s outputs —
    * under a UNIQUE total order, where rank = dense_rank = row_number
    * and the remaining ranking family is closed-form integer/rational
    * arithmetic of (rn, n). These let the low-cardinality-group window
    * queries (event_type, o_orderstatus, c_mktsegment, p_brand — each a
    * handful of values over a FACT table, i.e. one giant sort task per
    * group at 100 TB: the t87 class) ride the bucketed rank instead of
    * `Window.partitionBy(group)`, with hash-identical outputs (the
    * DuckDB oracles still compute the native window functions). */
  /** SQL-standard NTILE from (rn, n) column NAMES: q = n div k,
    * r = n mod k; the first r buckets hold q+1 rows. Exact BIGINT `div`
    * throughout (a double floor(x/y) goes lossy past 2^53 — the t34
    * rule). The q = 0 case (n < k) always takes the first branch
    * (rn <= n = r·1), so the else-division by q is never by zero. */
  private def ntileOf(k: Int, rn: String, n: String): org.apache.spark.sql.Column =
    expr(s"""CASE WHEN $rn <= ($n % $k) * (($n div $k) + 1)
             THEN ($rn - 1) div (($n div $k) + 1) + 1
             ELSE ($n % $k) + ($rn - ($n % $k) * (($n div $k) + 1) - 1) div ($n div $k) + 1 END""")

  private def percentRankOf(rn: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(n === 1, lit(0.0))
      .otherwise((rn - 1).cast("double") / (n - 1).cast("double"))

  private def cumeDistOf(rn: org.apache.spark.sql.Column,
      n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    rn.cast("double") / n.cast("double")

  val defs: Seq[QueryDef] = Seq(

    // A1/A2: group-by + collect values into list (src/core.py:1334,1363).
    // collect_set + sort_array pins a deterministic element order (the
    // reference inherits input order; distributed execution must not).
    // The list serializes to a joined string at the output boundary —
    // result frames keep scalar columns only (array cells are not
    // sortable/hashable by the comparison harness). PRECONDITION of the
    // ','-join flatten: elements are non-null (concat_ws and DuckDB
    // array_to_string both silently DROP nulls, masking divergence) and
    // comma-free — true for c_mktsegment; use the p23/p24  pattern
    // when flattening nullable or free-text elements.
    QueryDef.sql(
      "a1_group_collect_list",
      """SELECT c_nationkey AS nation_id, array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments, COUNT(*) AS n
        |FROM customer GROUP BY c_nationkey""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "customer")
        .groupBy(col("c_nationkey").as("nation_id"))
        .agg(
          concat_ws(",", sort_array(collect_set(col("c_mktsegment")))).as("segments"),
          count(lit(1)).as("n"))
    },

    // A3: dedup on a key subset, FIRST row wins — the reference's unique()
    // keeper is nondeterministic (src/core.py:744); pinned here with an
    // explicit row_number order, the documented divergence fix.
    QueryDef.sql(
      "a3_dedup_first_wins",
      """SELECT o_custkey, o_orderkey, o_orderstatus FROM (
        |  SELECT o_custkey, o_orderkey, o_orderstatus,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |  FROM orders) t WHERE rn = 1""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      Tables.load(spark, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"))
    },

    // TPC-H Q1 shape: multi-measure grouped aggregation with exact decimal
    // arithmetic lowered to double only at the end (see Num).
    QueryDef.sql(
      "q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.00 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
      // Unscaled-long fast path (graft.functions.expr.Int128Sum): the
      // codegen'd projection below the aggregate produces exact scaled
      // longs (cents; the disc product in 10^-4 units = the same unscaled
      // value the decimal(18,2)×decimal(4,2) multiply carries), and the
      // aggregate sums them in int128 exactly like DuckDB — bit-identical
      // to the sum(decimal) formulation without its per-row BigDecimal
      // allocation (the +10-digit result precision leaves Spark's
      // compact-long representation).
      import graft.functions.expr.Int128Sum.{sumScaled, unscaled2}
      Tables.load(spark, dir, "lineitem")
        .select(
          col("l_returnflag"), col("l_linestatus"),
          unscaled2(col("l_quantity")).as("uq"),
          unscaled2(col("l_extendedprice")).as("up"),
          (unscaled2(col("l_extendedprice")) *
            (lit(100L) - unscaled2(col("l_discount")))).as("ud"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumScaled(col("uq"), 2).cast(DoubleType).as("sum_qty"),
          sumScaled(col("up"), 2).cast(DoubleType).as("sum_base_price"),
          sumScaled(col("ud"), 4).cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    },

    // A4+: grouped stats — min/max/avg/count-distinct.
    QueryDef.sql(
      "a6_grouped_stats",
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders GROUP BY o_orderstatus""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          Num.avgMoney(col("o_totalprice")).as("avg_price"),
          countDistinct(col("o_custkey")).as("n_customers"))
    },

    // Grouping sets via ROLLUP (engine-provided per SURVEY §2.6; exercised
    // so the surface is proven, not just claimed).
    QueryDef.sql(
      "a8_rollup",
      """SELECT r_name, n_name, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin) { (spark, dir) =>
      val customer = Tables.load(spark, dir, "customer")
      val nation = Tables.load(spark, dir, "nation")
      val region = Tables.load(spark, dir, "region")
      customer
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n"), Num.sumMoney(col("c_acctbal")).as("total_bal"))
    },

    // CUBE (engine-provided per SURVEY §2.6, sibling of a8's ROLLUP): all
    // 2^k grouping combinations in one pass — same single-shuffle plan as a
    // plain groupBy, with the grouping-set expansion map-side.
    QueryDef.sql(
      "a14_cube",
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Num.sumMoney(col("o_totalprice")).as("total_price"))
    },

    // Explicit GROUPING SETS + grouping() provenance flags — the general
    // form of a8's ROLLUP / a14's CUBE (arbitrary set lists, and the
    // grouping() bit distinguishes "NULL because aggregated away" from a
    // NULL data value). Same single-shuffle plan with map-side expansion.
    QueryDef.sql(
      "a15_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"),
          count(lit(1)).as("n"))
    },

    // Time-range window frame: per-user trailing-1-hour moving aggregate —
    // a RANGE (not ROWS) frame over event time, the shape w3's row frame
    // can't express. Both engines order by epoch microseconds with the
    // same integer bound, and the windowed mean goes through exact decimal
    // so sliding-sum association order can't drift the floats.
    QueryDef.sql(
      "w6_time_range_avg",
      """SELECT event_id, user_id,
        |  round(CAST(SUM(CAST("value" AS DECIMAL(18,2))) OVER w AS DOUBLE) / COUNT(*) OVER w, 6) AS avg_1h,
        |  COUNT(*) OVER w AS n_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, Window.currentRow)
      Tables.load(spark, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .select(
          col("event_id"), col("user_id"),
          round(sum(col("value").cast("decimal(18,2)")).over(w).cast("double") /
            count(lit(1)).over(w), 6).as("avg_1h"),
          count(lit(1)).over(w).as("n_1h"))
    },

    // Exact interpolated percentiles (engine-provided extra): Spark
    // `percentile` and DuckDB `quantile_cont` share the linear-interpolation
    // definition; 6dp rounding pins the float boundary. The three quantiles
    // are one percentile-array aggregate internally (single sort pass),
    // flattened to scalar columns at the output boundary.
    QueryDef.sql(
      "a9_percentiles",
      """SELECT event_type,
        |  round(quantile_cont("value", 0.25), 6) AS q25,
        |  round(quantile_cont("value", 0.5), 6) AS q50,
        |  round(quantile_cont("value", 0.75), 6) AS q75,
        |  round(median("value"), 6) AS med
        |FROM events GROUP BY event_type""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          percentile(col("value"), array(lit(0.25), lit(0.5), lit(0.75))).as("qarr"),
          round(percentile(col("value"), lit(0.5)), 6).as("med"))
        .select(
          col("event_type"),
          round(element_at(col("qarr"), 1), 6).as("q25"),
          round(element_at(col("qarr"), 2), 6).as("q50"),
          round(element_at(col("qarr"), 3), 6).as("q75"),
          col("med"))
    },

    // Pivot (engine-provided extra): one output column per event type.
    // The explicit value list keeps the schema static — at scale an
    // unconstrained pivot means a full pre-pass to discover values.
    QueryDef.sql(
      "a10_pivot",
      """SELECT user_id,
        |  round(sum(CASE WHEN event_type = 'click' THEN "value" END), 6) AS click,
        |  round(sum(CASE WHEN event_type = 'view' THEN "value" END), 6) AS view,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN "value" END), 6) AS purchase,
        |  round(sum(CASE WHEN event_type = 'signup' THEN "value" END), 6) AS signup,
        |  round(sum(CASE WHEN event_type = 'error' THEN "value" END), 6) AS error
        |FROM events GROUP BY user_id""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(round(sum(col("value")), 6))
    },

    // Unpivot/melt (pivot's inverse): wide measure columns → long
    // (metric, value) rows. Narrow transform, no shuffle.
    QueryDef.sql(
      "a12_unpivot",
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
    },

    // Mergeable HLL sketches (datasketches-backed): the distributed
    // distinct-count story at 100 TB — per-partition sketches merge
    // associatively, so no exact-distinct shuffle of the key space.
    // rows-only (sketch estimates are engine-specific); the ±5% accuracy
    // contract vs exact COUNT(DISTINCT) is pinned in AggSketchSpec.
    QueryDef.rowsOnly("a11_hll_distinct") { (spark, dir) =>
      Tables.load(spark, dir, "events")
        .groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("approx_users"))
    },

    // §2.7: the reference's stateful duplicate-name disambiguation
    // (src/core.py:1022-1043) — first occurrence keeps the name, later ones
    // get " (n)" — as a window with a deterministic tiebreak.
    QueryDef.sql(
      "w1_duplicate_name_numbering",
      """SELECT p_partkey,
        |  CASE WHEN rn > 1 THEN p_brand || ' (' || CAST(rn - 1 AS VARCHAR) || ')' ELSE p_brand END AS disambiguated_name
        |FROM (SELECT p_partkey, p_brand, CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS INT) AS rn FROM part) t""".stripMargin) { (spark, dir) =>
      // p_brand is ~25 values over the part FACT table: the bucketed
      // GroupedRank, never Window.partitionBy(p_brand) (one giant sort
      // task per brand at scale — the t87 class)
      graft.operators.GroupedRank.withGroupRank(
          Tables.load(spark, dir, "part").select(col("p_partkey"), col("p_brand")),
          Seq("p_brand"), "p_partkey", descending = false,
          tieBreak = Seq.empty, outRank = "rn", outCount = "_n")
        .select(
          col("p_partkey"),
          when(col("rn") > 1,
            concat(col("p_brand"), lit(" ("), (col("rn") - 1).cast(StringType), lit(")")))
            .otherwise(col("p_brand")).as("disambiguated_name"))
    },

    // Top-k per group (rank window).
    QueryDef.sql(
      "w2_topk_per_group",
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t WHERE rk <= 3""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.load(spark, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
    },

    // Frame-spec running aggregates (count/max are exact — no float-order
    // dependence in the verified values).
    QueryDef.sql(
      "w3_running_frame",
      """SELECT event_id, user_id, ts,
        |  COUNT(*) OVER w AS running_n,
        |  MAX("value") OVER w AS running_max
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(spark, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).as("running_n"),
        max(col("value")).over(w).as("running_max"))
    },

    // lag/lead analytics.
    QueryDef.sql(
      "w4_lag_lead",
      """SELECT event_id, user_id, ts,
        |  lag(ts) OVER w AS prev_ts,
        |  lead(event_id) OVER w AS next_event_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.load(spark, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"),
        lag(col("ts"), 1).over(w).as("prev_ts"),
        lead(col("event_id"), 1).over(w).as("next_event_id"))
    },

    // Approximate quantiles (GK sketch): mergeable per-partition summaries
    // — the quantile twin of the HLL distinct sketch, for when an exact
    // percentile's full sort-shuffle is too expensive at scale. rows-only
    // (sketch output is engine-specific); accuracy vs the exact a9
    // percentiles is pinned in AggSketchSpec.
    QueryDef.rowsOnly("a13_approx_percentiles") { (spark, dir) =>
      Tables.load(spark, dir, "events")
        .groupBy(col("event_type"))
        .agg(percentile_approx(
          col("value"), array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("qarr"))
        // scalar output columns only (rows-only results are still sorted
        // by the comparison harness, which cannot sort array cells)
        .select(
          col("event_type"),
          element_at(col("qarr"), 1).as("q25"),
          element_at(col("qarr"), 2).as("q50"),
          element_at(col("qarr"), 3).as("q75"))
    },

    // Ranking-function family (engine-provided §2.7 extras): rank /
    // dense_rank / ntile / percent_rank share one partition shuffle + sort.
    QueryDef.sql(
      "w5_rank_family",
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS prank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin) { (spark, dir) =>
      // o_orderstatus has THREE values over the orders fact table — the
      // t87 class. Under the UNIQUE total order (o_totalprice DESC,
      // o_orderkey), rank = dense_rank = row_number and ntile /
      // percent_rank are closed-form in (rn, n), so the whole ranking
      // family rides ONE bucketed GroupedRank pass; the oracle still
      // computes the native window functions, so the derivations are in
      // the hash.
      graft.operators.GroupedRank.withGroupRank(
          Tables.load(spark, dir, "orders")
            .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
          Seq("o_orderstatus"), "o_totalprice", descending = true,
          tieBreak = Seq(col("o_orderkey").asc), outRank = "rn", outCount = "n")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("rn").cast("int").as("rnk"),
          col("rn").cast("int").as("drnk"),
          ntileOf(4, "rn", "n").cast("int").as("quartile"),
          round(percentRankOf(col("rn"), col("n")), 6).as("prank"))
    },

    // §2.8: global sort + limit (deterministic via unique tiebreak).
    QueryDef.sql(
      "o1_orderby_limit",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },

    // O3: 2-D Pareto frontier (skyline) per brand — the non-dominated
    // (cheapest, smallest) parts, the multi-objective selection primitive
    // (data-mixture picking under cost/quality trade-offs). The oracle is
    // the DEFINITION (quadratic NOT-EXISTS dominance); the Spark plan is
    // the scale formulation: groupBy(x).min(y) map-side reduction, then a
    // per-brand running-min sweep over distinct x, then a broadcast join
    // back (operators/Skyline.scala) — the fact table is scanned once and
    // never self-joined. Prices are exact cents (round→BIGINT identically
    // in both engines) so frontier membership has no IEEE boundary.
    QueryDef.sql(
      "o3_skyline_frontier",
      """WITH c AS (SELECT p_brand, p_partkey,
        |             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |             p_size FROM part)
        |SELECT p_brand, p_partkey, price_cents, p_size FROM c a
        |WHERE NOT EXISTS (SELECT 1 FROM c b WHERE b.p_brand = a.p_brand
        |  AND b.price_cents <= a.price_cents AND b.p_size <= a.p_size
        |  AND (b.price_cents < a.price_cents OR b.p_size < a.p_size))""".stripMargin) { (spark, dir) =>
      val c = Tables.load(spark, dir, "part").select(
        col("p_brand"), col("p_partkey"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"),
        col("p_size"))
      graft.operators.Skyline.frontier2d(c, Seq("p_brand"), "price_cents", "p_size")
    },

    // U1: vertical concat, identical schemas (src/core.py:743).
    QueryDef.sql(
      "u1_union_all",
      """SELECT o_orderkey, o_totalprice, 'open' AS src FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'big' AS src FROM orders WHERE o_totalprice > 150000""".stripMargin) { (spark, dir) =>
      val orders = Tables.load(spark, dir, "orders")
      val a = orders.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_totalprice"), lit("open").as("src"))
      val b = orders.filter(col("o_totalprice") > 150000)
        .select(col("o_orderkey"), col("o_totalprice"), lit("big").as("src"))
      a.union(b)
    },

    // U3: diagonal-relaxed concat — union by name, missing columns → null
    // (src/core.py:682-685,894).
    QueryDef.sql(
      "u3_union_by_name_missing",
      """SELECT n_nationkey AS id, n_name AS name, CAST(NULL AS VARCHAR) AS kind FROM nation
        |UNION ALL
        |SELECT r_regionkey AS id, r_name AS name, 'region' AS kind FROM region""".stripMargin) { (spark, dir) =>
      val a = Tables.load(spark, dir, "nation")
        .select(col("n_nationkey").as("id"), col("n_name").as("name"))
      val b = Tables.load(spark, dir, "region")
        .select(col("r_regionkey").as("id"), col("r_name").as("name"), lit("region").as("kind"))
      a.unionByName(b, allowMissingColumns = true)
    },

    // intersect / except (engine-provided per SURVEY §2.9; proven here).
    QueryDef.sql(
      "u4_intersect_except",
      """SELECT nid, 'intersect' AS op FROM (
        |  SELECT c_nationkey AS nid FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY') t1
        |UNION ALL
        |SELECT nid, 'except' AS op FROM (
        |  SELECT c_nationkey AS nid FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY') t2""".stripMargin) { (spark, dir) =>
      val customer = Tables.load(spark, dir, "customer")
      val a = customer.filter(col("c_mktsegment") === "BUILDING").select(col("c_nationkey").as("nid"))
      val b = customer.filter(col("c_mktsegment") === "MACHINERY").select(col("c_nationkey").as("nid"))
      a.intersect(b).withColumn("op", lit("intersect"))
        .union(a.except(b).withColumn("op", lit("except")))
    },

    // U5: BAG-semantics set operations — INTERSECT ALL / EXCEPT ALL keep
    // MULTIPLICITIES (min / saturated difference of per-value counts),
    // which is what reconciliation workloads actually need ("how many
    // copies survive in both feeds"). Both engines implement the
    // identical SQL-standard bag algebra; Spark plans them as count
    // aggregates + generate, one value-keyed shuffle per side. The
    // result is aggregated to (value, multiplicity) rows so the gate
    // hashes a deterministic frame rather than row repeats.
    QueryDef.sql(
      "u5_bag_set_ops",
      """SELECT nid, 'intersect_all' AS op, COUNT(*) AS mult FROM (
        |  SELECT c_nationkey AS nid FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT ALL
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY') t1
        |GROUP BY 1
        |UNION ALL
        |SELECT nid, 'except_all' AS op, COUNT(*) AS mult FROM (
        |  SELECT c_nationkey AS nid FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT ALL
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY') t2
        |GROUP BY 1""".stripMargin) { (spark, dir) =>
      val customer = Tables.load(spark, dir, "customer")
      val a = customer.filter(col("c_mktsegment") === "BUILDING").select(col("c_nationkey").as("nid"))
      val b = customer.filter(col("c_mktsegment") === "MACHINERY").select(col("c_nationkey").as("nid"))
      a.intersectAll(b).groupBy(col("nid"))
        .agg(count(lit(1)).as("mult")).withColumn("op", lit("intersect_all"))
        .unionAll(a.exceptAll(b).groupBy(col("nid"))
          .agg(count(lit(1)).as("mult")).withColumn("op", lit("except_all")))
        .select(col("nid"), col("op"), col("mult"))
    },

    // A16: winsorized stats — clip each group's values to its [p05, p95]
    // order statistics before averaging, the standard outlier-robust
    // aggregate for skewed telemetry/quality metrics. Bounds are DISCRETE
    // quantiles picked by explicit row_number arithmetic (value at position
    // ceil(q·n) under a total order), not interpolated percentile — an
    // exact element of the data, so both engines agree bit-for-bit and no
    // float lerp parity risk exists. Plan shape: one hash(event_type)
    // exchange feeds the rank window; the bounds frame is
    // |groups|-sized and broadcast back; the final agg reuses the same
    // key. At 100 TB the per-group sort is the cost — the documented scale
    // alternative is approx_percentile bounds (a13's sketch family) with
    // this exact form as the auditable baseline.
    QueryDef.sql(
      "a16_winsorized_stats",
      """WITH r AS (SELECT event_type, "value",
        |    row_number() OVER (PARTITION BY event_type ORDER BY "value", event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |b AS (SELECT event_type, MIN("value") AS lo, MAX("value") AS hi FROM r
        |      WHERE rn = GREATEST(1, CAST(ceil(0.05 * n) AS BIGINT))
        |         OR rn = CAST(ceil(0.95 * n) AS BIGINT)
        |      GROUP BY event_type)
        |SELECT r.event_type, COUNT(*) AS n, b.lo, b.hi,
        |  CAST(SUM(CAST(LEAST(GREATEST(r."value", b.lo), b.hi) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_winsor,
        |  COUNT(CASE WHEN r."value" < b.lo OR r."value" > b.hi THEN 1 END) AS n_clipped
        |FROM r JOIN b USING (event_type) GROUP BY r.event_type, b.lo, b.hi""".stripMargin) { (spark, dir) =>
      // event_type is a handful of values over the events fact table —
      // the rank and group count ride the bucketed GroupedRank (t87
      // class); its internal cache also serves r's TWO consumers (the
      // boundary filter and the final join), where the window form
      // re-sorted per consumer
      val r = graft.operators.GroupedRank.withGroupRank(
        Tables.load(spark, dir, "events")
          .select(col("event_type"), col("value"), col("event_id")),
        Seq("event_type"), "value", descending = false,
        tieBreak = Seq(col("event_id").asc), outRank = "rn", outCount = "n")
      val b = r.filter(
          col("rn") === greatest(lit(1L), ceil(col("n") * 0.05).cast("long")) ||
          col("rn") === ceil(col("n") * 0.95).cast("long"))
        .groupBy(col("event_type"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      val clipped = least(greatest(col("value"), col("lo")), col("hi"))
      r.join(broadcast(b), "event_type")
        .groupBy(col("event_type"), col("lo"), col("hi"))
        .agg(
          count(lit(1)).as("n"),
          (sum(Num.dec2(clipped)).cast(DoubleType) / count(lit(1))).as("avg_winsor"),
          count(when(col("value") < col("lo") || col("value") > col("hi"), 1)).as("n_clipped"))
        .select(col("event_type"), col("n"), col("lo"), col("hi"),
          col("avg_winsor"), col("n_clipped"))
    },

    // A17: equi-depth binning — per-group decile bins via ntile under a
    // total order (value, event_id), then per-bin count/min/max: the
    // feature-bucketing primitive (quantile bins per segment). The window
    // partitions by event_type so the sort distributes across groups —
    // never a global single-partition window. At 100 TB the per-group sort
    // is the cost; the sketch alternative is approx_percentile cut points
    // (a13's family) with this exact form as the auditable baseline.
    QueryDef.sql(
      "a17_equidepth_bins",
      """WITH r AS (SELECT event_type, "value",
        |    CAST(ntile(10) OVER (PARTITION BY event_type ORDER BY "value", event_id) AS INT) AS bin
        |  FROM events)
        |SELECT event_type, bin, COUNT(*) AS n, MIN("value") AS lo, MAX("value") AS hi
        |FROM r GROUP BY event_type, bin""".stripMargin) { (spark, dir) =>
      // deciles from the bucketed per-group rank (t87 class): ntile(10)
      // is closed-form exact-BIGINT arithmetic of (rn, n)
      graft.operators.GroupedRank.withGroupRank(
          Tables.load(spark, dir, "events")
            .select(col("event_type"), col("value"), col("event_id")),
          Seq("event_type"), "value", descending = false,
          tieBreak = Seq(col("event_id").asc), outRank = "rn", outCount = "n")
        .select(col("event_type"), col("value"),
          ntileOf(10, "rn", "n").cast("int").as("bin"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo"), max(col("value")).as("hi"))
    },

    // A18: per-group Pearson correlation + population covariance from EXACT
    // decimal moments (Σx, Σy, Σxy, Σx², Σy² — order-independent under
    // partial aggregation), lowered to double only for the final closed-form
    // arithmetic so both engines evaluate the identical IEEE expression tree.
    // Spark's built-in corr() is a streaming double accumulator whose result
    // depends on partition merge order — it can never hash-match an oracle;
    // this moment form is the distributed-exact alternative. ONE agg shuffle
    // with map-side partial combine; zero-variance groups yield NULL by an
    // explicit guard (DuckDB is IEEE and would emit ±inf/NaN otherwise).
    QueryDef.sql(
      "a18_grouped_corr",
      """WITH m AS (SELECT l_returnflag, l_linestatus,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
        |  round(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END, 6) AS corr_qty_price,
        |  round((n * sxy - sx * sy) / n / n, 6) AS covar_pop
        |FROM m""".stripMargin) { (spark, dir) =>
      val x = Num.dec2(col("l_quantity"))
      val y = Num.dec2(col("l_extendedprice"))
      val m = Tables.load(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).cast(DoubleType).as("n"),
          sum(x).cast(DoubleType).as("sx"),
          sum(y).cast(DoubleType).as("sy"),
          sum(x * y).cast(DoubleType).as("sxy"),
          sum(x * x).cast(DoubleType).as("sxx"),
          sum(y * y).cast(DoubleType).as("syy"))
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      m.select(
        col("l_returnflag"), col("l_linestatus"), col("n").cast(LongType).as("n"),
        round(when(vx > 0 && vy > 0, cov / (sqrt(vx) * sqrt(vy))), 6).as("corr_qty_price"),
        round(cov / col("n") / col("n"), 6).as("covar_pop"))
    },

    // A19: per-group min-max feature scaling — group bounds from one agg
    // shuffle, broadcast back onto the fact scan, per-row rescale stays in
    // codegen. Degenerate groups (hi == lo, incl. singletons) yield NULL by
    // explicit guard in BOTH engines (DuckDB is IEEE: 0/0 = NaN would
    // otherwise flow through). The standard ML-preprocessing twin of e14's
    // z-score standardization.
    QueryDef.sql(
      "a19_minmax_normalize",
      """WITH b AS (SELECT event_type, MIN("value") AS lo, MAX("value") AS hi FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, "value",
        |  round(CASE WHEN hi > lo THEN ("value" - lo) / (hi - lo) END, 6) AS scaled
        |FROM events e JOIN b USING (event_type)""".stripMargin) { (spark, dir) =>
      val ev = Tables.load(spark, dir, "events")
      val b = ev.groupBy(col("event_type"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      ev.join(broadcast(b), "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          round(when(col("hi") > col("lo"),
            (col("value") - col("lo")) / (col("hi") - col("lo"))), 6).as("scaled"))
    },

    // A20: per-group mode (most frequent value) with a deterministic
    // lexicographic tie-break — the categorical summary statistic. Shape:
    // (group, value) counts (one shuffle with map-side combine absorbing
    // the frequency skew), then a row_number top-1 per group over the
    // |groups|×|values|-sized count frame — the window never sees fact
    // rows.
    QueryDef.sql(
      "a20_grouped_mode",
      """WITH c AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, source, n,
        |        row_number() OVER (PARTITION BY lang ORDER BY n DESC, source) AS rk
        |      FROM c)
        |SELECT lang, source AS mode_source, n FROM r WHERE rk = 1""".stripMargin) { (spark, dir) =>
      val c = Tables.load(spark, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang")).orderBy(col("n").desc, col("source"))
      c.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("lang"), col("source").as("mode_source"), col("n"))
    },

    // A21: robust (median/MAD) outlier statistics per group — the heavy-
    // tail-safe twin of e14's mean/σ z-scores (one wild value moves the
    // mean arbitrarily; the median moves one rank). Medians are DISCRETE
    // order statistics (row_number rank (n+1)÷2 under a total order —
    // a16's no-float-interpolation rule), so every compare is on exact
    // input values and both engines agree bit for bit. Two group-key
    // window exchanges (value rank, deviation rank); the |groups|-sized
    // med/mad frames broadcast back.
    QueryDef.sql(
      "a21_robust_scale",
      """WITH r AS (SELECT event_type, event_id, "value",
        |    row_number() OVER (PARTITION BY event_type ORDER BY "value", event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |med AS (SELECT event_type, MIN("value") AS med FROM r
        |        WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT) GROUP BY 1),
        |r2 AS (SELECT r.event_type, r.event_id, r."value", r.n,
        |         abs(r."value" - med.med) AS dev
        |       FROM r JOIN med USING (event_type)),
        |r3 AS (SELECT event_type, dev, n,
        |         row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS drn
        |       FROM r2),
        |mad AS (SELECT event_type, MIN(dev) AS mad FROM r3
        |        WHERE drn = CAST(floor((n + 1) / 2.0) AS BIGINT) GROUP BY 1)
        |SELECT r2.event_type, COUNT(*) AS n, MIN(med.med) AS med, MIN(mad.mad) AS mad,
        |  COUNT(CASE WHEN r2.dev > 3 * mad.mad THEN 1 END) AS n_outliers
        |FROM r2 JOIN med USING (event_type) JOIN mad USING (event_type)
        |GROUP BY 1""".stripMargin) { (spark, dir) =>
      val medianRank = floor((col("n") + 1) / 2.0).cast(LongType)
      // both order-statistic ranks (value, then deviation) ride the
      // bucketed GroupedRank — event_type over the events fact table is
      // the t87 class, and the dev rank's input is itself data-scale
      val r = graft.operators.GroupedRank.withGroupRank(
        Tables.load(spark, dir, "events")
          .select(col("event_type"), col("event_id"), col("value")),
        Seq("event_type"), "value", descending = false,
        tieBreak = Seq(col("event_id").asc), outRank = "rn", outCount = "n")
      val med = r.filter(col("rn") === medianRank)
        .groupBy(col("event_type")).agg(min(col("value")).as("med"))
      val r2 = r.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = graft.operators.GroupedRank.withGroupRank(
          r2, Seq("event_type"), "dev", descending = false,
          tieBreak = Seq(col("event_id").asc), outRank = "drn", outCount = "_n2")
        .filter(col("drn") === medianRank)
        .groupBy(col("event_type")).agg(min(col("dev")).as("mad"))
      r2.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("med")).as("med"), min(col("mad")).as("mad"),
          count(when(col("dev") > lit(3) * col("mad"), 1)).as("n_outliers"))
    },

    // A22: Pareto / ABC classification — customers ranked by exact decimal
    // revenue, cumulative share of the total, A (≤80%) / B (≤95%) / C
    // classes: the concentration report behind "which 20% of keys carry
    // 80% of the mass". The fact table reduces to a |customers|-sized
    // aggregate FIRST; the cumulative sum over that aggregate runs through
    // the bucketed distributed prefix sum (operators/PrefixSum.scala) —
    // at 100 TB |customers| is billions, so a bare Window.orderBy would
    // funnel the whole aggregate through one task. The grand total rides
    // a 1-row broadcast instead of a global window. Sums stay
    // decimal-exact; the single lowering to double is the share division,
    // identical in both engines.
    QueryDef.sql(
      "a22_pareto_abc",
      """WITH r AS (SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |           FROM orders GROUP BY 1),
        |w AS (SELECT o_custkey, rev,
        |    SUM(rev) OVER (ORDER BY rev DESC, o_custkey ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(rev) OVER () AS total
        |  FROM r)
        |SELECT o_custkey, CAST(rev AS DOUBLE) AS revenue,
        |  round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share,
        |  CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8 THEN 'A'
        |       WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM w""".stripMargin) { (spark, dir) =>
      val r = Tables.load(spark, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(Num.dec2(col("o_totalprice"))).as("rev"))
      // total comes out of the prefix sum's own driver fold (totalOut) —
      // a separate r.agg(sum) would re-run the whole orders aggregation
      val cum = graft.operators.PrefixSum.withRunningSum(
        r, rangeCol = "rev", descending = true,
        tieBreak = Seq(col("o_custkey")), value = col("rev"), out = "cum",
        totalOut = Some("total"))
      val share = col("cum").cast(DoubleType) / col("total").cast(DoubleType)
      cum
        .select(col("o_custkey"), col("rev").cast(DoubleType).as("revenue"),
          round(share, 6).as("cum_share"),
          when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C").as("abc_class"))
    },

    // A23: EXACT global median — the order statistic everyone approximates
    // (approx_percentile) or serializes (orderBy through one task). This
    // rides operators/Selection: distributed quickselect, 3-4 aggregate
    // passes that each shrink the candidate range ~128x; nothing
    // data-scale is ever sorted, shuffled to one task, or collected. The
    // rank-k definition ((n+1)/2, 1-based) sidesteps the even-count
    // interpolation ambiguity between engines.
    QueryDef.sql(
      "a23_exact_median",
      """WITH r AS (SELECT o_totalprice, row_number() OVER (ORDER BY o_totalprice) AS rn,
        |                  COUNT(*) OVER () AS n
        |           FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT o_totalprice AS median_price, n AS n_rows FROM r WHERE rn = (n + 1) // 2""".stripMargin) { (spark, dir) =>
      val orders = Tables.load(spark, dir, "orders")
        .filter(col("o_totalprice").isNotNull)
      // rank derives from the first quickselect round's bucket tallies, so
      // no separate count() pass over orders is ever scheduled
      val (med, n) = graft.operators.Selection.kthOfCount(
        orders, "o_totalprice", n => (n + 1) / 2)
      spark.range(1).select(lit(med).as("median_price"), lit(n).as("n_rows"))
    },

    // A24: exact PER-GROUP median — the grouped companion of a23. Groups
    // are bounded (|statuses|), so the right plan is one partition-keyed
    // window (rank + group count share the partitioning) and a rank
    // filter, NOT per-group quickselect: the window sorts each group
    // within its own partition slice, no global order exists anywhere.
    // Rank (n+1)/2 over (price, orderkey) — the unique tiebreak makes the
    // picked ROW deterministic, and the picked VALUE is the group median
    // regardless of ties.
    QueryDef.sql(
      "a24_grouped_median",
      """WITH r AS (SELECT o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders)
        |SELECT o_orderstatus, o_totalprice AS median_price, n AS n_rows
        |FROM r WHERE rn = (n + 1) // 2""".stripMargin) { (spark, dir) =>
      // 3-value group over the fact table — bucketed rank (t87 class)
      graft.operators.GroupedRank.withGroupRank(
          Tables.load(spark, dir, "orders")
            .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey")),
          Seq("o_orderstatus"), "o_totalprice", descending = false,
          tieBreak = Seq(col("o_orderkey").asc), outRank = "rn", outCount = "n")
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("o_orderstatus"), col("o_totalprice").as("median_price"),
          col("n").as("n_rows"))
    },

    // U5: multiset set ops — INTERSECT ALL / EXCEPT ALL keep duplicate
    // multiplicity (min / difference of per-value counts), unlike u4's
    // set-semantics pair. Spark's intersectAll/exceptAll plan this as a
    // count-aggregate + generate, no join explosion.
    QueryDef.sql(
      "u6_setops_all",
      """SELECT nid, 'intersect_all' AS op FROM (
        |  SELECT c_nationkey AS nid FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT ALL
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY') t1
        |UNION ALL
        |SELECT nid, 'except_all' AS op FROM (
        |  SELECT c_nationkey AS nid FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT ALL
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY') t2""".stripMargin) { (spark, dir) =>
      val customer = Tables.load(spark, dir, "customer")
      val a = customer.filter(col("c_mktsegment") === "BUILDING").select(col("c_nationkey").as("nid"))
      val b = customer.filter(col("c_mktsegment") === "MACHINERY").select(col("c_nationkey").as("nid"))
      a.intersectAll(b).withColumn("op", lit("intersect_all"))
        .union(a.exceptAll(b).withColumn("op", lit("except_all")))
    },

    // W7: value-position window family — first/last/nth over an explicit
    // full-partition ROWS frame (the default RANGE..CURRENT ROW frame makes
    // last_value useless; both engines get the explicit frame spelled out).
    QueryDef.sql(
      "w7_value_windows",
      """SELECT o_orderkey, o_custkey,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER w AS last_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.load(spark, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        last(col("o_orderkey")).over(w).as("last_ok"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
    },

    // A25: Benford first-digit profile of order totals — the standard
    // fabricated-data / unit-mixing detector. Digit extraction goes through
    // DECIMAL(12,2) → string on BOTH engines (plain positional rendering;
    // no float formatting, no log10), so the leading character is identical
    // cross-engine by construction.
    QueryDef.sql(
      "a25_benford_digits",
      """WITH d AS (SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), 1, 1) AS INT) AS digit
        |           FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1)
        |SELECT digit, n, round(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS share
        |FROM g""".stripMargin) { (spark, dir) =>
      // The global-total window runs over the ALREADY-AGGREGATED 9-row
      // frame, so the SinglePartition exchange it forces is 9 rows — one
      // scan of orders total (a separate total-aggregate branch would
      // scan the fact table twice).
      Tables.load(spark, dir, "orders")
        .select(substring(col("o_totalprice").cast(DecimalType(12, 2)).cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .select(col("digit"), col("n"),
          round(col("n").cast(DoubleType) /
            sum(col("n")).over(Window.partitionBy()), 6).as("share"))
    },

    // A26: conditional aggregate family — count_if, FILTER-style counts,
    // bool_and/bool_or. All integer/boolean outputs, hash-stable.
    QueryDef.sql(
      "a26_filtered_bool_aggs",
      """SELECT o_orderpriority,
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
        |  CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big,
        |  bool_and(o_totalprice > 1000) AS all_over_1k,
        |  bool_or(o_orderstatus = 'P') AS any_pending
        |FROM orders GROUP BY 1""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count_if(col("o_orderstatus") === "F").as("n_finished"),
          count_if(col("o_totalprice") > 200000).as("n_big"),
          bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
          bool_or(col("o_orderstatus") === "P").as("any_pending"))
    },

    // A27: key-skew profile — per-key row counts bucketed into powers of
    // two, the pre-join diagnostic that decides between a plain shuffle,
    // AQE skew splitting, and transforms/Skew salting. Bucketing is an
    // explicit comparison chain (no log2 — not correctly rounded across
    // engines); two aggregates, the second over |keys| rows only.
    QueryDef.sql(
      "a27_key_skew_profile",
      """WITH k AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1)
        |SELECT CASE WHEN c = 1 THEN 0 WHEN c <= 2 THEN 1 WHEN c <= 4 THEN 2
        |            WHEN c <= 8 THEN 3 WHEN c <= 16 THEN 4 WHEN c <= 32 THEN 5
        |            WHEN c <= 64 THEN 6 WHEN c <= 128 THEN 7 WHEN c <= 256 THEN 8
        |            ELSE 9 END AS bucket,
        |  COUNT(*) AS n_keys, MAX(c) AS max_count,
        |  CAST(SUM(c) AS BIGINT) AS rows_covered
        |FROM k GROUP BY 1""".stripMargin) { (spark, dir) =>
      val c = col("c")
      val bucket = when(c === 1, 0).when(c <= 2, 1).when(c <= 4, 2)
        .when(c <= 8, 3).when(c <= 16, 4).when(c <= 32, 5)
        .when(c <= 64, 6).when(c <= 128, 7).when(c <= 256, 8)
        .otherwise(9)
      Tables.load(spark, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_keys"), max(c).as("max_count"),
          sum(c).as("rows_covered"))
    },

    // A28: column-level data profile — null count, distinct count, and
    // min/max per column in ONE scan, the "ANALYZE TABLE" primitive behind
    // ingestion QA and broadcast/size estimation. The four COUNT(DISTINCT)s
    // share a single aggregate (Catalyst plans one Expand ×4 — one shuffle
    // whose width is the distinct key stream, never four scans), and the
    // wide→long pivot is a stack() over the already-1-row aggregate. Min/max
    // surface as VARCHAR for the uniform report schema; numerics are
    // min/max'd NATIVELY first and cast after (string min of c_custkey
    // would be lexicographic). c_acctbal is excluded: DOUBLE→VARCHAR
    // rendering differs across engines; profile doubles with a19/a21-style
    // numeric stats instead.
    QueryDef.sql(
      "a28_column_profile",
      """SELECT 'c_custkey' AS column_name,
        |  CAST(COUNT(*) - COUNT(c_custkey) AS BIGINT) AS null_count,
        |  COUNT(DISTINCT c_custkey) AS n_distinct,
        |  CAST(MIN(c_custkey) AS VARCHAR) AS min_value,
        |  CAST(MAX(c_custkey) AS VARCHAR) AS max_value
        |FROM customer
        |UNION ALL
        |SELECT 'c_name', CAST(COUNT(*) - COUNT(c_name) AS BIGINT),
        |  COUNT(DISTINCT c_name), MIN(c_name), MAX(c_name) FROM customer
        |UNION ALL
        |SELECT 'c_nationkey', CAST(COUNT(*) - COUNT(c_nationkey) AS BIGINT),
        |  COUNT(DISTINCT c_nationkey),
        |  CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR)
        |FROM customer
        |UNION ALL
        |SELECT 'c_mktsegment', CAST(COUNT(*) - COUNT(c_mktsegment) AS BIGINT),
        |  COUNT(DISTINCT c_mktsegment), MIN(c_mktsegment), MAX(c_mktsegment)
        |FROM customer""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "customer")
        .agg(
          count(lit(1)).as("n"),
          count(col("c_custkey")).as("nn_ck"),
          countDistinct(col("c_custkey")).as("nd_ck"),
          min(col("c_custkey")).cast("string").as("mn_ck"),
          max(col("c_custkey")).cast("string").as("mx_ck"),
          count(col("c_name")).as("nn_nm"),
          countDistinct(col("c_name")).as("nd_nm"),
          min(col("c_name")).as("mn_nm"),
          max(col("c_name")).as("mx_nm"),
          count(col("c_nationkey")).as("nn_nk"),
          countDistinct(col("c_nationkey")).as("nd_nk"),
          min(col("c_nationkey")).cast("string").as("mn_nk"),
          max(col("c_nationkey")).cast("string").as("mx_nk"),
          count(col("c_mktsegment")).as("nn_ms"),
          countDistinct(col("c_mktsegment")).as("nd_ms"),
          min(col("c_mktsegment")).as("mn_ms"),
          max(col("c_mktsegment")).as("mx_ms"))
        .selectExpr(
          """stack(4,
            |  'c_custkey',    n - nn_ck, nd_ck, mn_ck, mx_ck,
            |  'c_name',       n - nn_nm, nd_nm, mn_nm, mx_nm,
            |  'c_nationkey',  n - nn_nk, nd_nk, mn_nk, mx_nk,
            |  'c_mktsegment', n - nn_ms, nd_ms, mn_ms, mx_ms
            |) AS (column_name, null_count, n_distinct, min_value, max_value)
            |""".stripMargin)
    },

    // W8: per-group top-k WITHOUT a window — the functions/expr/TopKByScore
    // TypedImperativeAggregate under a value oracle (the ANN paths use it
    // rows-only; here DuckDB's row_number formulation must reproduce it
    // bit for bit, tie-break included). Scale shape vs the window plan: the
    // shuffle carries at most k pairs per (group × map partition) — the
    // map-side partial combine the window's full sort can never do. The
    // oracle's PARTITION BY ... rk <= 5 is the plan this aggregate REPLACES.
    QueryDef.sql(
      "w8_grouped_topk",
      """WITH r AS (SELECT date_trunc('month', o_orderdate) AS mo, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY date_trunc('month', o_orderdate)
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT mo, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= 5""".stripMargin) { (spark, dir) =>
      import graft.functions.expr.TopKByScore
      // trunc() (DateType), not date_trunc() (TimestampType): the oracle's
      // date_trunc over a DATE column stays DATE in DuckDB.
      Tables.load(spark, dir, "orders")
        .groupBy(trunc(col("o_orderdate"), "month").as("mo"))
        .agg(TopKByScore.topK(col("o_totalprice"), col("o_orderkey"), 5).as("tk"))
        .select(col("mo"), posexplode(col("tk")))
        .select(col("mo"), col("col.id").as("o_orderkey"),
          col("col.score").as("o_totalprice"),
          (col("pos") + 1).cast("int").as("rk"))
    },

    // W9: distribution-rank family — percent_rank, cume_dist, ntile. All
    // three are exact rationals of integer ranks ((rk-1)/(n-1), rk/n, and
    // integer bucket arithmetic), so 6dp rounding after the one IEEE divide
    // is bit-identical cross-engine — no percentile interpolation anywhere.
    // Segment-partitioned windows: groups sort in their own slices.
    QueryDef.sql(
      "w9_distribution_ranks",
      """SELECT c_custkey, c_mktsegment,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  CAST(ntile(10) OVER w AS INT) AS decile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""".stripMargin) { (spark, dir) =>
      // 5-value segment over the customer fact table (t87 class): under
      // the UNIQUE order (c_acctbal, c_custkey), percent_rank, cume_dist
      // and ntile are all closed-form in the bucketed (rn, n)
      graft.operators.GroupedRank.withGroupRank(
          Tables.load(spark, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
          Seq("c_mktsegment"), "c_acctbal", descending = false,
          tieBreak = Seq(col("c_custkey").asc), outRank = "rn", outCount = "n")
        .select(col("c_custkey"), col("c_mktsegment"),
          round(percentRankOf(col("rn"), col("n")), 6).as("pr"),
          round(cumeDistOf(col("rn"), col("n")), 6).as("cd"),
          ntileOf(10, "rn", "n").cast("int").as("decile"))
    },

    // A24: per-group IQR outlier detection (Tukey fences) — the profiling
    // gate that flags anomalous measurements before they poison training
    // statistics. Quartiles are EXACT type-1 quantiles via the t32/a23
    // doctrine: per-group cumulative COUNT over the value order (the
    // window partitions BY GROUP — never global), boundary = MIN value
    // where 4·cum crosses tot. Tie-robust without a tiebreak: crossing
    // can only happen inside a run of equal v, and v is constant there.
    // Fences q1 − 1.5·IQR / q3 + 1.5·IQR are the identical IEEE double
    // expression in both engines (parquet doubles in, one subtract and
    // one multiply — no libm). Group bounds broadcast back (a19 shape);
    // the fact side shuffles once for the windows and once for the final
    // rollup.
    QueryDef.sql(
      "a29_iqr_outliers",
      """WITH t AS (SELECT event_type AS g, value AS v FROM events WHERE value IS NOT NULL),
        |w AS (SELECT g, v,
        |    COUNT(*) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |    COUNT(*) OVER (PARTITION BY g) AS tot
        |  FROM t),
        |q AS (SELECT g,
        |    MIN(CASE WHEN 4 * cum >= tot THEN v END) AS q1,
        |    MIN(CASE WHEN 4 * cum >= 3 * tot THEN v END) AS q3
        |  FROM w GROUP BY 1)
        |SELECT t.g, COUNT(*) AS n, MIN(q.q1) AS q1, MIN(q.q3) AS q3,
        |  COUNT(*) FILTER (t.v < q.q1 - 1.5 * (q.q3 - q.q1)
        |                OR t.v > q.q3 + 1.5 * (q.q3 - q.q1)) AS outliers
        |FROM t JOIN q ON t.g = q.g GROUP BY 1""".stripMargin) { (spark, dir) =>
      val t = Tables.load(spark, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type").as("g"), col("value").as("v"),
          col("event_id"))
      // the running count over (g, v-order) IS a rank — bucketed
      // GroupedRank, not a per-group window (t87 class). The q1/q3
      // crossing test is tie-robust (it can only flip inside a run of
      // equal v, where v is constant), but GroupedRank's contract
      // requires a TOTAL per-group order — the event_id tiebreak costs
      // one long in the slice sort and keeps `cum` itself deterministic
      // for any future consumer (r17 advice)
      val q = graft.operators.GroupedRank.withGroupRank(
          t, Seq("g"), "v", descending = false,
          tieBreak = Seq(col("event_id")),
          outRank = "cum", outCount = "tot")
        .groupBy(col("g"))
        .agg(
          min(when(lit(4) * col("cum") >= col("tot"), col("v"))).as("q1"),
          min(when(lit(4) * col("cum") >= lit(3) * col("tot"), col("v"))).as("q3"))
      val iqr15 = lit(1.5) * (col("q3") - col("q1"))
      t.join(broadcast(q), Seq("g"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), min(col("q1")).as("q1"), min(col("q3")).as("q3"),
          count(when(col("v") < col("q1") - iqr15 ||
            col("v") > col("q3") + iqr15, lit(1))).as("outliers"))
    },

    // A30: k-anonymity audit — the training-data governance gate: group
    // rows by their quasi-identifier tuple and flag every equivalence
    // class smaller than k (those records are re-identifiable by the QI
    // combination alone; the dataset's k-anonymity level is the smallest
    // class). One hash-aggregate at QI cardinality plus a broadcast 1-row
    // total — the same shape at 100 TB, since the shuffle carries one row
    // per distinct QI tuple, never per record. k = 5, the conventional
    // release threshold.
    QueryDef.sql(
      "a30_k_anonymity",
      """WITH cls AS (SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
        |    COUNT(*) AS class_size FROM customer GROUP BY 1, 2),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_rows FROM customer),
        |ka AS (SELECT MIN(class_size) AS k_anonymity FROM cls)
        |SELECT nationkey, mktsegment, class_size,
        |  class_size < 5 AS at_risk, total_rows, k_anonymity
        |FROM cls CROSS JOIN tot CROSS JOIN ka""".stripMargin) { (spark, dir) =>
      val cust = Tables.load(spark, dir, "customer")
      val cls = cust.groupBy(col("c_nationkey").as("nationkey"),
          col("c_mktsegment").as("mktsegment"))
        .agg(count(lit(1)).as("class_size"))
      // total_rows and the k-anonymity level both DERIVE from the class
      // frame (Σ class_size and min class_size), so one global window
      // over QI-cardinality rows replaces two extra source scans — the
      // SinglePartition exchange it plans is bounded by the number of
      // distinct QI classes, never by record count.
      val wAll = Window.partitionBy()
      cls.select(col("nationkey"), col("mktsegment"), col("class_size"),
        (col("class_size") < 5).as("at_risk"),
        sum(col("class_size")).over(wAll).as("total_rows"),
        min(col("class_size")).over(wAll).as("k_anonymity"))
    },

    // A35: frequent-pair mining with lift (market-basket association) —
    // the co-occurrence primitive behind "docs that cite X also cite Y"
    // dataset analyses: per order-basket, distinct item pairs (a < b),
    // support-filtered, with lift = n_baskets·c(A,B)/(c(A)·c(B)) as ONE
    // division of exact integers (the t41 rule) beside its raw inputs.
    // Scale shape: the pair generator is an equi-join on the basket key —
    // fan-out per basket is C(k,2), bounded by real basket sizes (a
    // pathological hot basket is the skew case the size cap
    // in the spec's operator variant drops); support counts map-side
    // combine; item counts join back on the part key; n_baskets is a
    // 1-row bounded scalar fold (q2 class, budget-audited). NEVER an
    // all-pairs over the catalog: unsupported pairs die in the
    // basket-keyed join's output aggregate, not in a 20k² enumeration.
    QueryDef.sql(
      "a35_frequent_pairs",
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM items),
        |c AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |        CAST(COUNT(*) AS BIGINT) AS pair_cnt
        |      FROM items a JOIN items b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT part_a, part_b, pair_cnt, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        |  n.n_baskets,
        |  round(CAST(n.n_baskets * pair_cnt AS DOUBLE) / (ca.cnt * cb.cnt), 6) AS lift
        |FROM p JOIN c ca ON ca.l_partkey = part_a
        |       JOIN c cb ON cb.l_partkey = part_b CROSS JOIN n""".stripMargin) { (spark, dir) =>
      graft.operators.Baskets.frequentPairs(
        Tables.load(spark, dir, "lineitem"),
        basketCol = "l_orderkey", itemCol = "l_partkey", minSupport = 2L)
        .withColumnRenamed("item_a", "part_a")
        .withColumnRenamed("item_b", "part_b")
    },

    // A33: l-diversity — k-anonymity's stronger sibling: a class that is
    // large enough (k-anonymous) can still leak if every member shares
    // the same SENSITIVE value, so the gate also requires ≥ l distinct
    // sensitive values per quasi-identifier class. Same scale shape as
    // a30: one aggregate at QI cardinality (count + distinct-sensitive
    // per class), record rows never shuffle beyond their map-side
    // combine. l = 3.
    QueryDef.sql(
      "a33_l_diversity",
      """SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
        |  COUNT(*) AS class_size,
        |  CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS INT)) AS BIGINT) AS l_distinct,
        |  COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS INT)) < 3 AS below_l
        |FROM customer GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      val sensitive = floor(col("c_acctbal") / 1000).cast("int")
      Tables.load(spark, dir, "customer")
        .groupBy(col("c_nationkey").as("nationkey"),
          col("c_mktsegment").as("mktsegment"))
        .agg(count(lit(1)).as("class_size"),
          count_distinct(sensitive).as("l_distinct"))
        .select(col("nationkey"), col("mktsegment"), col("class_size"),
          col("l_distinct"), (col("l_distinct") < 3).as("below_l"))
    },

    // A36: t-CLOSENESS — the third of the release-gating privacy trio
    // (a30 k-anonymity: classes big enough; a33 l-diversity: sensitive
    // values varied enough; THIS: the class's sensitive DISTRIBUTION
    // must stay within t of the corpus's, or membership in the class
    // itself leaks the attribute). For the ordered acctbal-bucket
    // attribute the distance is the Earth Mover's: EMD = Σᵢ|cum_g(i)/n_g
    // − cum(i)/N| / (m−1), computed here in EXACT integers by
    // cross-multiplication (|cum_g·N − cum·n_g| summed; the t=0.2 verdict
    // is 5·Σ vs n_g·N·(m−1) — no IEEE division anywhere, the a31 audit
    // rule). Shape: one (class, bin) rollup, a class-partitioned
    // cumulative window over the |bins|-wide grid, and a ≤|bins|-row
    // global cumulative (the one SinglePartition, bounded by the bin
    // domain, budgeted).
    QueryDef.sql(
      "a36_t_closeness",
      """WITH src AS (SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
        |              CAST(floor(c_acctbal / 1000) AS INT) AS b FROM customer),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM src),
        |bins AS (SELECT DISTINCT b FROM src),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM bins),
        |gl AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY 1),
        |glc AS (SELECT b, CAST(SUM(c) OVER (ORDER BY b) AS BIGINT) AS cum FROM gl),
        |cls AS (SELECT nationkey, mktsegment, CAST(COUNT(*) AS BIGINT) AS ng FROM src GROUP BY 1, 2),
        |cb AS (SELECT nationkey, mktsegment, b, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY 1, 2, 3),
        |grid AS (SELECT cls.nationkey, cls.mktsegment, cls.ng, bins.b, COALESCE(cb.c, 0) AS c
        |         FROM cls CROSS JOIN bins
        |         LEFT JOIN cb ON cb.nationkey = cls.nationkey
        |                     AND cb.mktsegment = cls.mktsegment AND cb.b = bins.b),
        |gc AS (SELECT nationkey, mktsegment, ng, b,
        |         CAST(SUM(c) OVER (PARTITION BY nationkey, mktsegment ORDER BY b) AS BIGINT) AS cumg
        |       FROM grid),
        |terms AS (SELECT gc.nationkey, gc.mktsegment, gc.ng,
        |            abs(gc.cumg * n.n - glc.cum * gc.ng) AS term
        |          FROM gc JOIN glc ON glc.b = gc.b CROSS JOIN n)
        |SELECT t.nationkey, t.mktsegment, t.ng AS class_size,
        |  CAST(SUM(t.term) AS BIGINT) AS emd_num,
        |  CAST(t.ng * n.n * (m.m - 1) AS BIGINT) AS emd_den,
        |  5 * CAST(SUM(t.term) AS BIGINT) > t.ng * n.n * (m.m - 1) AS above_t
        |FROM terms t CROSS JOIN n CROSS JOIN m
        |GROUP BY 1, 2, 3, n.n, m.m""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val src = Tables.load(spark, dir, "customer")
        .select(col("c_nationkey").as("nationkey"), col("c_mktsegment").as("mktsegment"),
          floor(col("c_acctbal") / 1000).cast("int").as("b"))
      val srcC = graft.engine.BoundedCaches.persist(src) // 5 consumers below
      val n = srcC.agg(count(lit(1)).as("n"))
      val bins = srcC.select(col("b")).distinct()
      val m = bins.agg(count(lit(1)).as("m"))
      val glc = srcC.groupBy(col("b")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("b"))))
        .select(col("b"), col("cum"))
      val cls = srcC.groupBy(col("nationkey"), col("mktsegment"))
        .agg(count(lit(1)).as("ng"))
      val cb = srcC.groupBy(col("nationkey"), col("mktsegment"), col("b"))
        .agg(count(lit(1)).as("c"))
      val grid = cls.crossJoin(broadcast(bins))
        .join(cb, Seq("nationkey", "mktsegment", "b"), "left")
        .select(col("nationkey"), col("mktsegment"), col("ng"), col("b"),
          coalesce(col("c"), lit(0L)).as("c"))
      val gc = grid.withColumn("cumg",
        sum(col("c")).over(
          Window.partitionBy(col("nationkey"), col("mktsegment")).orderBy(col("b"))))
      gc.join(glc, Seq("b"))
        .crossJoin(broadcast(n)).crossJoin(broadcast(m))
        .select(col("nationkey"), col("mktsegment"), col("ng"),
          abs(col("cumg") * col("n") - col("cum") * col("ng")).as("term"),
          col("n"), col("m"))
        .groupBy(col("nationkey"), col("mktsegment"), col("ng"), col("n"), col("m"))
        .agg(sum(col("term")).as("emd_num"))
        .select(col("nationkey"), col("mktsegment"), col("ng").as("class_size"),
          col("emd_num"),
          (col("ng") * col("n") * (col("m") - 1)).as("emd_den"),
          (lit(5) * col("emd_num") > col("ng") * col("n") * (col("m") - 1)).as("above_t"))
    },

    // A31: the HASHED half of a11 (the q7 bound-audit pattern): DuckDB
    // can't build the HLL sketch, but the exact distinct count is SQL and
    // the sketch's ±5% accuracy contract is assertable as a TRUE literal —
    // so the driver's hash gate cross-validates every group's estimate
    // against the exact count. The exact COUNT(DISTINCT) here is audit
    // machinery, not the scale path (the sketch exists precisely to avoid
    // that shuffle in production); the comparison is exact-integer
    // (|approx − exact|·20 ≤ exact), no IEEE division.
    QueryDef.sql(
      "a31_hll_bound_audit",
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS within_5pct
        |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count_distinct(col("user_id")).as("exact_users"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("approx"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx") - col("exact_users")) * 20 <= col("exact_users"))
            .as("within_5pct"))
    },

    // A32: the HASHED half of a13 — the GK sketch's rank guarantee as an
    // oracled boolean: with accuracy 10000 (eps = 1e-4), the value
    // percentile_approx returns for q=0.5 must cover a rank within
    // (0.5 ± eps)·n, i.e. count(v < ap)·10000 ≤ 5001·n AND
    // count(v ≤ ap)·10000 ≥ 4999·n — exact integer arithmetic on both
    // sides of each inequality, so the audit hashes deterministically.
    QueryDef.sql(
      "a32_gk_bound_audit",
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, TRUE AS rank_ok
        |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin) { (spark, dir) =>
      val ev = Tables.load(spark, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      val ap = ev.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(10000)).as("ap"))
      ev.join(broadcast(ap), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          count(when(col("value") < col("ap"), 1)).as("below"),
          count(when(col("value") <= col("ap"), 1)).as("at_or_below"))
        .select(col("event_type"), col("n"),
          (col("below") * 10000 <= col("n") * 5001 &&
            col("at_or_below") * 10000 >= col("n") * 4999).as("rank_ok"))
    },

    // A34: Misra–Gries heavy-hitter audit (operators/MisraGries — the
    // DETERMINISTIC-bound counterpart of t20's Count-Min: per-partition
    // k-counter summaries, driver-merged per Agarwal et al.'s mergeable-
    // summaries rule). Which NON-heavy survivors the summary carries is
    // partition-order-dependent, so the gate hashes the INVARIANTS (the
    // a31/a32 sketch-audit pattern) over the deterministic heavy set:
    // item = 'hot'||(doc_id%8) on even ids (≈N/8 each, above the
    // N/(k+1) threshold at k=12 → presence GUARANTEED) and a unique
    // 'u'||id tail forcing eviction. Per heavy token: the closed-form
    // exact count, in_summary, and the two-sided bound
    // exact − N/13 ≤ est ≤ exact — a summary that loses a heavy item,
    // overcounts, or merges partials wrong fails on a value.
    QueryDef.sql(
      "a34_misra_gries_audit",
      """WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
        |SELECT 'hot' || CAST(j AS VARCHAR) AS token,
        |  CAST((n - j + 7) // 8 AS BIGINT) AS exact_cnt,
        |  TRUE AS in_summary, TRUE AS bound_ok
        |FROM nn CROSS JOIN (SELECT unnest([0, 2, 4, 6]) AS j) t""".stripMargin) {
      (spark, dir) =>
      import graft.operators.MisraGries
      val items = Tables.load(spark, dir, "documents").select(
        when(pmod(col("doc_id"), lit(2L)) === 0,
          concat(lit("hot"), pmod(col("doc_id"), lit(8L))))
          .otherwise(concat(lit("u"), col("doc_id"))).as("t"))
      val n = items.count()
      val summ = MisraGries.summary(items, "t", k = 12)
        .select(col("item").as("token"), col("count_est"))
      items.groupBy(col("t").as("token")).agg(count(lit(1)).as("exact_cnt"))
        .filter(col("exact_cnt") * 13 > n)
        .join(broadcast(summ), Seq("token"), "left")
        .select(col("token"), col("exact_cnt"),
          col("count_est").isNotNull.as("in_summary"),
          (col("count_est").isNotNull && col("count_est") <= col("exact_cnt") &&
            col("count_est") * 13 >= col("exact_cnt") * 13 - n).as("bound_ok"))
    },

    // A37: grouped higher MOMENTS — skewness + excess kurtosis, the
    // distribution-shape columns a28's profile stops short of (is the
    // measure symmetric? heavy-tailed? uniform quantity shows the
    // textbook −1.2 excess). The a18 corr discipline extended to 3rd/4th
    // powers: power sums Σx..Σx⁴ accumulate as EXACT DECIMAL (x pinned
    // to DECIMAL(7,2) so the ×4 precision chain (31,8) stays inside 38
    // on BOTH engines), only then lower to double, and every double
    // expression is written with the IDENTICAL operation order in both
    // engines so round(·,6) hashes. Degenerate groups (zero variance)
    // yield NULL by explicit guard. ONE map-side-combined aggregate —
    // the whole statistic costs a single group-count shuffle.
    QueryDef.sql(
      "a37_grouped_moments",
      """WITH m AS (SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(7,2))) AS DOUBLE) AS s1,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))) AS DOUBLE) AS s2,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))) AS DOUBLE) AS s3,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2)) * CAST(l_quantity AS DECIMAL(7,2))) AS DOUBLE) AS s4
        |FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, n,
        |  round(s1 / n, 6) AS mean,
        |  round(s2 / n - (s1 / n) * (s1 / n), 6) AS m2,
        |  round(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0 THEN
        |    (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n)) /
        |    ((s2 / n - (s1 / n) * (s1 / n)) * sqrt(s2 / n - (s1 / n) * (s1 / n))) END, 6) AS skewness,
        |  round(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0 THEN
        |    (s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n) - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) /
        |    ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3 END, 6) AS kurtosis_excess
        |FROM m""".stripMargin) { (spark, dir) =>
      val x = col("l_quantity").cast(DecimalType(7, 2))
      val m = Tables.load(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(x).cast(DoubleType).as("s1"),
          sum(x * x).cast(DoubleType).as("s2"),
          sum(x * x * x).cast(DoubleType).as("s3"),
          sum(x * x * x * x).cast(DoubleType).as("s4"))
      // identical operation ORDER as the SQL above — double arithmetic
      // only hashes when both engines execute the same IEEE op sequence
      val mean = col("s1") / col("n")
      val v = col("s2") / col("n") - mean * mean
      m.select(col("l_returnflag"), col("l_linestatus"), col("n"),
        round(mean, 6).as("mean"),
        round(v, 6).as("m2"),
        round(when(v > 0,
          (col("s3") / col("n") - lit(3) * mean * (col("s2") / col("n")) +
            lit(2) * mean * mean * mean) / (v * sqrt(v))), 6).as("skewness"),
        round(when(v > 0,
          (col("s4") / col("n") - lit(4) * mean * (col("s3") / col("n")) +
            lit(6) * mean * mean * (col("s2") / col("n")) -
            lit(3) * mean * mean * mean * mean) / (v * v) - 3), 6).as("kurtosis_excess"))
    })
}
