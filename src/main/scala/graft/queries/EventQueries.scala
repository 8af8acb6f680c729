package graft.queries

import graft.io.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Event-stream analytics in batch form over `events`: sessions, windows,
  * funnels and event-time joins, each checked against the DuckDB oracle.
  */
object EventQueries {

  /** ONE copy of the 30-min-gap sessionization, shared by e1 (reporting)
    * and e18 (rollup) on both the Spark and the oracle side — the
    * shingleGraphSql rule: a gap or tie-break change can never
    * desynchronize the rollup from the query it summarizes. */
  private val sessionizeSql: String =
    """x AS (SELECT event_id, user_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
      |y AS (SELECT event_id, user_id, ts,
      |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END AS is_new FROM x),
      |sess AS (SELECT event_id, user_id, ts,
      |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq
      |  FROM y)""".stripMargin

  /** (event_id, user_id, ts, session_seq) — the Spark twin of
    * [[sessionizeSql]]. */
  private def sessionized(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val frame = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("ts"), 1).over(order)
    val isNew = when(
      prev.isNull || (unix_micros(col("ts")) - unix_micros(prev)) > 1800000000L, 1)
      .otherwise(0)
    Tables.load(spark, dir, "events")
      .withColumn("is_new", isNew)
      .select(
        col("event_id"), col("user_id"), col("ts"),
        sum(col("is_new")).over(frame).cast("int").as("session_seq"))
  }

  /** Shared SCD2 interval stage (e10 builds the history table, e24 reads a
    * point-in-time snapshot off it): change-detect via lag, interval-close
    * via lead, both windows on ONE user-key partitioning. */
  private def scd2Intervals(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(order))
      .filter(col("prev").isNull || col("event_type") =!= col("prev"))
      .withColumn("valid_to", lead(col("ts"), 1).over(order))
  }

  val defs: Seq[QueryDef] = Seq(

    // Gap-based sessionization: a new session starts after >30 min of
    // silence per user; session index = running sum of boundary flags.
    QueryDef.sql(
      "e1_sessionize",
      s"""WITH $sessionizeSql
         |SELECT event_id, user_id, ts, session_seq FROM sess""".stripMargin) { (spark, dir) =>
      sessionized(spark, dir)
    },

    // Tumbling-window aggregation (hourly).
    QueryDef.sql(
      "e2_tumbling_hourly",
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users, MAX("value") AS max_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "events")
        .groupBy(
          date_trunc("hour", col("ts")).as("window_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          max(col("value")).as("max_value"))
    },

    // JSON property extraction from the props payload column.
    QueryDef.sql(
      "e3_json_extract",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events""") { (spark, dir) =>
      Tables.load(spark, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    },

    // Backward as-of join: each purchase picks up the user's most recent
    // click at-or-before it. graft.operators.AsOfJoin turns this into one
    // key shuffle + sort (|L|+|R| linear), never a per-key range explosion;
    // the oracle is DuckDB's native ASOF LEFT JOIN.
    QueryDef.sql(
      "e4_asof_join",
      """SELECT l.event_id, l.user_id, l.ts,
        |       r.ts AS click_ts, r.event_id AS click_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin) { (spark, dir) =>
      val ev = Tables.load(spark, dir, "events")
      graft.operators.AsOfJoin.backward(
        left = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        right = ev.filter(col("event_type") === "click"),
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("ts" -> "click_ts", "event_id" -> "click_event_id"),
        // determinism contract: nothing guarantees unique (user, ts) clicks
        // in a regenerated corpus; event_id pins the winner
        rightTiebreak = Seq("event_id"))
    },

    // Bucketed range join: events land in overlapping value bands via an
    // equi-join on a bucket id (graft.operators.RangeJoin) instead of the
    // nested-loop theta join Spark would otherwise plan. Bands are a
    // deterministic generated dimension; a point can match 0..2 bands.
    QueryDef.sql(
      "e5_range_join",
      """SELECT e.event_id, CAST(i.band AS BIGINT) AS band
        |FROM events e
        |JOIN (SELECT i AS band, i * 4.0 AS lo, i * 4.0 + 6.0 AS hi
        |      FROM range(50) t(i)) i
        |  ON e."value" >= i.lo AND e."value" < i.hi""".stripMargin) { (spark, dir) =>
      val bands = spark.range(50).select(
        col("id").as("band"),
        (col("id") * 4.0).as("lo"),
        (col("id") * 4.0 + 6.0).as("hi"))
      graft.operators.RangeJoin.pointInInterval(
        points = Tables.load(spark, dir, "events").select("event_id", "value"),
        intervals = bands,
        pointCol = "value", loCol = "lo", hiCol = "hi",
        bucketWidth = 4.0)
        .select("event_id", "band")
    },

    // Time-series gap filling: per event_type, every hour between that
    // type's first and last event, with zero-filled counts for silent
    // hours. Spark-first shape: the hour spine is sequence()+explode off a
    // tiny per-type min/max aggregate (output-proportional, never a driver
    // loop), left-joined back to the hourly counts. Two agg shuffles plus
    // one broadcast-able join on (type, hour).
    QueryDef.sql(
      "e7_gap_fill",
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
        |           FROM events GROUP BY 1, 2),
        |spine AS (SELECT event_type, unnest(generate_series(min(hr), max(hr), INTERVAL 1 HOUR)) AS hr
        |          FROM c GROUP BY event_type)
        |SELECT s.event_type, s.hr, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM spine s LEFT JOIN c ON s.event_type = c.event_type AND s.hr = c.hr""".stripMargin) { (spark, dir) =>
      val counts = Tables.load(spark, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      val spine = counts
        .groupBy(col("event_type").as("s_type"))
        .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
        .select(col("s_type"),
          explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("s_hr"))
      spine.join(counts,
          spine("s_type") === counts("event_type") && spine("s_hr") === counts("hr"), "left")
        .select(
          col("s_type").as("event_type"), col("s_hr").as("hr"),
          coalesce(col("n"), lit(0L)).as("n"))
    },

    // Retention cohorts: users grouped by first-seen day, activity counted
    // per day offset — the classic engagement matrix. ONE events scan: the
    // cohort day is a whole-partition window min over user_id (no
    // aggregate-then-join-back re-scan), then one grouped distinct count.
    QueryDef.sql(
      "e8_retention_cohorts",
      """WITH w AS (SELECT user_id, ts,
        |    CAST(min(ts) OVER (PARTITION BY user_id) AS DATE) AS cohort_day FROM events)
        |SELECT cohort_day, CAST(datediff('day', cohort_day, CAST(ts AS DATE)) AS INTEGER) AS day_offset,
        |       COUNT(DISTINCT user_id) AS n_users
        |FROM w GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      Tables.load(spark, dir, "events")
        .select(col("user_id"), col("ts"))
        .withColumn("cohort_day",
          min(col("ts")).over(Window.partitionBy(col("user_id"))).cast("date"))
        .groupBy(col("cohort_day"),
          datediff(col("ts").cast("date"), col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },

    // Sequenced funnel: view → click-after-first-view → purchase-after-
    // that-click, counted per reached stage. ONE events scan + ONE
    // user-key shuffle: the three conditional mins chain as whole-partition
    // window aggregates over the same partitioning (no re-shuffle between
    // them) — at 100 TB this replaces the naive 3-scan/3-join formulation.
    QueryDef.sql(
      "e9_funnel_stages",
      """WITH w1 AS (SELECT user_id, event_type, ts,
        |    min(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id) AS t_view
        |  FROM events),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
        |    OVER (PARTITION BY user_id) AS t_click FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t_click THEN ts END)
        |    OVER (PARTITION BY user_id) AS t_buy FROM w2),
        |s AS (SELECT DISTINCT user_id,
        |        CASE WHEN t_buy IS NOT NULL THEN 3 WHEN t_click IS NOT NULL THEN 2 ELSE 1 END AS stage
        |      FROM w3 WHERE t_view IS NOT NULL)
        |SELECT stage, COUNT(*) AS n_users FROM s GROUP BY stage""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
      Tables.load(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ts"))).over(byUser))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("ts") >= col("t_view"),
            col("ts"))).over(byUser))
        .withColumn("t_buy",
          min(when(col("event_type") === "purchase" && col("ts") >= col("t_click"),
            col("ts"))).over(byUser))
        .filter(col("t_view").isNotNull)
        .select(col("user_id"),
          when(col("t_buy").isNotNull, 3)
            .when(col("t_click").isNotNull, 2).otherwise(1).as("stage"))
        .distinct()
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"))
    },

    // SCD2 history build: compress each user's event stream into
    // [valid_from, valid_to) state intervals — keep only rows where the
    // tracked attribute CHANGES (lag compare), then close each interval
    // with the next change's timestamp (lead). The dimension-history twin
    // of e6's latest-snapshot compaction: same ONE user-key shuffle, both
    // windows share the partitioning (no re-shuffle between lag and lead).
    QueryDef.sql(
      "e10_scd2_history",
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM o
        |      WHERE prev IS NULL OR event_type <> prev),
        |v AS (SELECT user_id, event_type, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to FROM c)
        |SELECT user_id, event_type, valid_from, valid_to,
        |       valid_to IS NULL AS is_current
        |FROM v""".stripMargin) { (spark, dir) =>
      scd2Intervals(spark, dir)
        .select(
          col("user_id"), col("event_type"), col("ts").as("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"))
    },

    // Sliding-window counts (1 h window, 15 min slide): each event lands in
    // exactly 4 overlapping windows. Spark's window() generator expands
    // them at the scan (output-proportional, zero shuffle before the agg);
    // window starts surface as epoch seconds so the grid is engine-neutral.
    QueryDef.sql(
      "e11_sliding_windows",
      """SELECT ws AS window_start, event_type, COUNT(*) AS n
        |FROM (SELECT CAST(floor(epoch(ts)/900) AS BIGINT)*900 - k*900 AS ws, event_type
        |      FROM events CROSS JOIN range(4) t(k)) x
        |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "events")
        .select(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .groupBy(
          unix_timestamp(col("w.start")).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
    },

    // Keyed snapshot reconciliation (graft.operators.SnapshotDiff): the
    // per-user latest state BEFORE a cutoff vs the final state, classified
    // added/changed/unchanged/removed via ONE full outer join — the audit
    // complement of e6's compaction, and the missing FULL OUTER member of
    // the join-shape inventory. At 100 TB this replaces the reference's
    // row-count-only load validation (src/utils.py:180,223) with a keyed,
    // shuffle-parallel diff.
    QueryDef.sql(
      "e12_snapshot_diff",
      """WITH o AS (SELECT user_id, event_id FROM (
        |    SELECT user_id, event_id,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-15') t WHERE rn = 1),
        |n AS (SELECT user_id, event_id FROM (
        |    SELECT user_id, event_id,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) t WHERE rn = 1)
        |SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |  CASE WHEN o.user_id IS NULL THEN 'added'
        |       WHEN n.user_id IS NULL THEN 'removed'
        |       WHEN o.event_id = n.event_id THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  o.event_id AS old_event_id, n.event_id AS new_event_id
        |FROM o FULL OUTER JOIN n ON o.user_id = n.user_id""".stripMargin) { (spark, dir) =>
      val events = Tables.load(spark, dir, "events")
        .select("user_id", "event_id", "ts")
      val before = graft.operators.Upsert.latestSnapshot(
        events.filter(col("ts") < lit("2024-01-15").cast("timestamp")),
        keys = Seq("user_id"), ts = "ts", tiebreak = Seq("event_id"))
      val after = graft.operators.Upsert.latestSnapshot(
        events, keys = Seq("user_id"), ts = "ts", tiebreak = Seq("event_id"))
      graft.operators.SnapshotDiff.diff(
          before, after, keys = Seq("user_id"), compare = Seq("event_id"))
        .select("user_id", "status", "old_event_id", "new_event_id")
    },

    // CDC compaction (graft.operators.Upsert.latestSnapshot): newest event
    // per user — the incremental-merge primitive that replaces the
    // reference's truncate-and-reload at scale. One key shuffle.
    QueryDef.sql(
      "e6_latest_per_key",
      """SELECT user_id, event_id, ts, event_type FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin) { (spark, dir) =>
      graft.operators.Upsert.latestSnapshot(
        Tables.load(spark, dir, "events")
          .select("user_id", "event_id", "ts", "event_type"),
        keys = Seq("user_id"), ts = "ts", tiebreak = Seq("event_id"))
    },

    // O2: Z-order clustering key (codegen'd ZValue Morton interleave) over
    // (user_id, value-in-cents) — sortWithinPartitions on this key before a
    // columnar write gives every file a narrow min-max envelope on BOTH
    // columns, so predicates on EITHER prune files at planning time (the
    // multi-dimensional data-skipping layout; see LayoutSpec for the
    // one-dimension pruning proof). Pure per-row bit math, zero shuffle;
    // the oracle replays the magic-mask spread chain in plain BIGINT
    // arithmetic, pinning the expression bit for bit.
    QueryDef.sql(
      "o2_zorder_key",
      """WITH z0 AS (SELECT event_id,
        |             CAST(user_id AS BIGINT) & 2147483647 AS a,
        |             CAST(floor(value * 100) AS BIGINT) & 2147483647 AS b
        |            FROM events),
        |z1 AS (SELECT event_id, (a | (a << 16)) & 281470681808895 AS a, (b | (b << 16)) & 281470681808895 AS b FROM z0),
        |z2 AS (SELECT event_id, (a | (a << 8)) & 71777214294589695 AS a, (b | (b << 8)) & 71777214294589695 AS b FROM z1),
        |z3 AS (SELECT event_id, (a | (a << 4)) & 1085102592571150095 AS a, (b | (b << 4)) & 1085102592571150095 AS b FROM z2),
        |z4 AS (SELECT event_id, (a | (a << 2)) & 3689348814741910323 AS a, (b | (b << 2)) & 3689348814741910323 AS b FROM z3),
        |z5 AS (SELECT event_id, (a | (a << 1)) & 6148914691236517205 AS a, (b | (b << 1)) & 6148914691236517205 AS b FROM z4)
        |SELECT event_id, (a | (b << 1)) AS zval FROM z5""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "events")
        .select(col("event_id"),
          graft.functions.expr.ZValue.zValue(
            col("user_id"), floor(col("value") * 100)).as("zval"))
    },

    // E13: interval-overlap join (graft.operators.RangeJoin.intervalOverlap)
    // — per-user click windows × purchase windows (10 min each) that
    // overlap in time: the temporal reconciliation shape a theta join
    // would nested-loop. Bucketed on (user, time bucket) with the
    // report-once trick (a pair is emitted only from its overlap's
    // left-edge bucket), so the plan is one equi-join shuffle and NO
    // distinct pass; the oracle states the naive theta join directly.
    QueryDef.sql(
      "e13_interval_overlap_join",
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS cs,
        |             CAST(floor(epoch(ts)) AS BIGINT) + 600 AS ce
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS ps,
        |             CAST(floor(epoch(ts)) AS BIGINT) + 600 AS pe
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, purchase_id
        |FROM c JOIN p ON c.user_id = p.user_id AND cs < pe AND ps < ce""".stripMargin) { (spark, dir) =>
      val ev = Tables.load(spark, dir, "events")
      def windows(tpe: String, idAs: String, s: String, e: String) =
        ev.filter(col("event_type") === tpe)
          .select(col("event_id").as(idAs), col("user_id"),
            unix_timestamp(col("ts")).as(s),
            (unix_timestamp(col("ts")) + 600).as(e))
      graft.operators.RangeJoin.intervalOverlap(
          windows("click", "click_id", "cs", "ce"),
          windows("purchase", "purchase_id", "ps", "pe"),
          keys = Seq("user_id"),
          lStart = "cs", lEnd = "ce", rStart = "ps", rEnd = "pe",
          bucketWidth = 600)
        .select(col("user_id"), col("click_id"), col("purchase_id"))
    },

    // Z-score anomaly flags: per-event-type standardization from EXACT
    // decimal moments (Σx, Σx² as DECIMAL — order-independent under
    // partial aggregation), lowered to double only for the final
    // μ/σ/z arithmetic so both engines evaluate the identical IEEE
    // expression tree on identical inputs. Population variance via
    // E[x²]−E[x]². One event_type-keyed exchange feeds both window
    // sums; per-row z is then scan-local. At 100 TB the moments come
    // from a groupBy + broadcast join-back instead of a window, but
    // the shuffle count is the same (one).
    QueryDef.sql(
      "e14_zscore_anomalies",
      """WITH m AS (SELECT event_id, event_type, "value",
        |    CAST(SUM(CAST("value" AS DECIMAL(18,2))) OVER (PARTITION BY event_type) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST("value" AS DECIMAL(18,2)) * CAST("value" AS DECIMAL(18,2))) OVER (PARTITION BY event_type) AS DOUBLE) AS sxx,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE) AS n
        |  FROM events),
        |v AS (SELECT event_id, event_type, "value",
        |        CASE WHEN sxx / n - (sx / n) * (sx / n) > 0
        |             THEN ("value" - sx / n) / sqrt(sxx / n - (sx / n) * (sx / n)) END AS z
        |      FROM m)
        |SELECT event_id, event_type, "value", round(z, 4) AS z
        |FROM v WHERE abs(z) > 1.5""".stripMargin) { (spark, dir) =>
      val dec = Num.dec2(col("value"))
      // groupBy + broadcast join-back, NOT Window.partitionBy(event_type):
      // a handful of event types over the fact table is the t87 class (one
      // task buffers a whole type), and the rollup is strictly cheaper —
      // the map-side-combined aggregate shuffles |types| rows and the fact
      // side never exchanges at all (the window exchanged ALL of it).
      // `ev` is DELIBERATELY not persisted although two consumers scan it
      // (the stats aggregate and the join-back): it is a column-pruned
      // 3-column parquet scan, and at the target scale caching the fact
      // table costs more (memory/disk for ~100 TB of blocks) than the
      // second scan — the exchange, not the scan, was the window form's
      // bottleneck. BoundedCaches stays reserved for frames with EXPENSIVE
      // lineage (GroupedRank's scored subtrees), not bare scans.
      val ev = Tables.load(spark, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val stats = ev.groupBy(col("event_type").as("_et")).agg(
        sum(dec).cast("double").as("sx"),
        sum(dec * dec).cast("double").as("sxx"),
        count(lit(1)).cast("double").as("n"))
      // NULL-SAFE join-back: groupBy keeps a null-type group (as the
      // window form did), so the rejoin must too — a plain equi-join
      // would drop null-type rows (the GroupedRank <=> doctrine)
      val m = ev.join(broadcast(stats), col("event_type") <=> col("_et"))
        .drop("_et")
      val mu = col("sx") / col("n")
      // A zero-variance group (all values identical, incl. singletons) must
      // yield z = NULL in BOTH engines: Spark's Divide already NULLs on a
      // zero divisor, but DuckDB is IEEE (0/0 = NaN > 1.5 — it would EMIT
      // the row), so the guard is explicit on both sides.
      val variance = col("sxx") / col("n") - mu * mu
      val z = when(variance > 0, (col("value") - mu) / sqrt(variance))
      m.filter(abs(z) > 1.5)
        .select(col("event_id"), col("event_type"), col("value"), round(z, 4).as("z"))
    },

    // E15: per-user event-type transition matrix (the Markov-chain /
    // clickstream-flow primitive): each user's event stream under the total
    // order (ts, event_id) — event_id breaks equal-timestamp ties so the
    // lag is retry-deterministic — then (prev → curr) pair counts with
    // distinct-user support. ONE user-key exchange feeds the lag window;
    // the transition rollup is a |types|²-cardinality agg with map-side
    // combine. At 100 TB user_id is the natural partition key and no user's
    // history crosses executors.
    QueryDef.sql(
      "e15_event_transitions",
      """WITH o AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev AS from_type, event_type AS to_type,
        |       COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM o WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.load(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    },

    // E16: daily active users + new-user accretion — DAU per day, first-seen
    // new users per day, and the cumulative user count. Two fact-scale agg
    // shuffles (day-distinct users; per-user first day); the running total
    // is a global-order window but runs over the |days|-cardinality
    // aggregate, never the fact table, so the single-partition sort is
    // bounded by the calendar, not the data.
    QueryDef.sql(
      "e16_daily_active",
      """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events),
        |a AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM d GROUP BY 1),
        |f AS (SELECT user_id, MIN(day) AS first_day FROM d GROUP BY 1),
        |nu AS (SELECT first_day AS day, COUNT(*) AS new_users FROM f GROUP BY 1)
        |SELECT a.day, a.dau, COALESCE(nu.new_users, 0) AS new_users,
        |  CAST(SUM(COALESCE(nu.new_users, 0)) OVER (ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM a LEFT JOIN nu ON a.day = nu.day""".stripMargin) { (spark, dir) =>
      val d = Tables.load(spark, dir, "events")
        .select(to_date(date_trunc("day", col("ts"))).as("day"), col("user_id"))
      val a = d.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
      val nu = d.groupBy(col("user_id")).agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      a.join(nu, Seq("day"), "left")
        .select(col("day"), col("dau"),
          coalesce(col("new_users"), lit(0L)).as("new_users"))
        .withColumn("cum_users", sum(col("new_users")).over(w))
    },

    // E17: 7-day rolling distinct users — the metric a windowed
    // COUNT(DISTINCT) cannot express distributively. Scale shape: dedup to
    // (day, user) pairs first (fact-scale shuffle ONCE), then each pair
    // explodes to the ≤7 window-end days it contributes to (bounded ×7
    // expansion of the already-deduped frame, at the scan), inner-join to
    // the observed-day spine (tiny → broadcast), and one distinct-count per
    // window-end day. Never a self-join of the fact table, never a
    // quadratic range join.
    QueryDef.sql(
      "e17_rolling_distinct",
      """WITH d AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events),
        |c AS (SELECT CAST(unnest(generate_series(CAST(day AS TIMESTAMP), CAST(day AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS day, user_id FROM d),
        |obs AS (SELECT DISTINCT day FROM d)
        |SELECT c.day, COUNT(DISTINCT user_id) AS rolling_users_7d
        |FROM c JOIN obs ON c.day = obs.day GROUP BY 1""".stripMargin) { (spark, dir) =>
      val d = Tables.load(spark, dir, "events")
        .select(to_date(date_trunc("day", col("ts"))).as("day"), col("user_id"))
        .distinct()
      val c = d.select(
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"),
        col("user_id"))
      val obs = d.select(col("day")).distinct()
      c.join(broadcast(obs), "day")
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("rolling_users_7d"))
    },

    // E18: session-shape distribution — e1's 30-min-gap sessions rolled up
    // to (events-per-session bucket → session count, avg duration). The
    // engagement-shape summary on top of sessionization: one user-key
    // exchange feeds both windows (same partitioning as e1), the
    // per-session frame is |sessions|-sized, and the final rollup has
    // bucket cardinality. Durations in exact integer micros, averaged via
    // decimal before the double lowering (the Num rule).
    QueryDef.sql(
      "e18_session_stats",
      s"""WITH $sessionizeSql,
         |p AS (SELECT user_id, session_seq, COUNT(*) AS n_events,
         |    epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
         |  FROM sess GROUP BY 1, 2)
         |SELECT CAST(LEAST(n_events, 10) AS INT) AS n_events_bucket,
         |  COUNT(*) AS n_sessions,
         |  round(CAST(SUM(CAST(dur_us AS DECIMAL(20,0))) AS DOUBLE) / COUNT(*) / 1000000.0, 4) AS avg_duration_s
         |FROM p GROUP BY 1""".stripMargin) { (spark, dir) =>
      val sessions = sessionized(spark, dir)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("dur_us"))
      sessions
        .groupBy(least(col("n_events"), lit(10L)).cast("int").as("n_events_bucket"))
        .agg(
          count(lit(1)).as("n_sessions"),
          round(sum(col("dur_us").cast(DecimalType(20, 0))).cast(DoubleType) /
            count(lit(1)) / 1000000.0, 4).as("avg_duration_s"))
    },

    // E19: conversion latency — hours from a user's FIRST view to their
    // FIRST purchase, histogrammed: the funnel-speed companion to e9's
    // stage counts. Two per-user min aggregates off one scan family, a
    // user-keyed equi-join, and a bucket rollup; the time math is exact
    // integer micros with one identical double floor-divide per row.
    // Users who purchased before ever viewing are excluded (attribution
    // is view-led, matching e9's ordered-stage rule).
    QueryDef.sql(
      "e19_conversion_latency",
      """WITH v AS (SELECT user_id, MIN(ts) AS first_view FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT user_id, MIN(ts) AS first_purchase FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(floor((epoch_us(first_purchase) - epoch_us(first_view)) / 3600000000.0) AS BIGINT) AS hours_bucket,
        |  COUNT(*) AS n_users
        |FROM v JOIN p USING (user_id)
        |WHERE first_purchase >= first_view GROUP BY 1""".stripMargin) { (spark, dir) =>
      val ev = Tables.load(spark, dir, "events")
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
      val p = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_purchase"))
      v.join(p, "user_id")
        .filter(col("first_purchase") >= col("first_view"))
        .groupBy(floor(
          (unix_micros(col("first_purchase")) - unix_micros(col("first_view"))) /
            3600000000.0).cast("long").as("hours_bucket"))
        .agg(count(lit(1)).as("n_users"))
    },

    // E20: behavioral path mining — top-20 event-type trigrams over
    // per-user timelines, the "what do users do next" primitive behind
    // navigation analysis and next-event models. Two leads share ONE
    // user-key window partitioning; the path rollup is a keyed aggregate
    // with map-side combine over a bounded (|event_types|^3) key space —
    // nothing here grows beyond the fact scan at 100 TB.
    QueryDef.sql(
      "e20_path_trigrams",
      """WITH o AS (SELECT event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
        |FROM o WHERE e3 IS NOT NULL AND e2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.load(spark, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("e1"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .withColumn("e3", lead(col("e1"), 2).over(w))
        .filter(col("e3").isNotNull && col("e2").isNotNull)
        // concat, not concat_ws: the oracle's || null-propagates, so a
        // null e1 must produce a null path group in BOTH engines
        .select(concat(col("e1"), lit(">"), col("e2"), lit(">"), col("e3")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    },

    // E21: inter-arrival statistics per event type — the traffic-shape
    // profile (burstiness, gaps, rate) operations teams read before sizing
    // stream consumers. One user... no: one TYPE-keyed window for the lag,
    // then a type-keyed rollup; gap math stays in exact integer micros,
    // the single divide to seconds is the same IEEE op in both engines.
    QueryDef.sql(
      "e21_interarrival_stats",
      """WITH d AS (SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, COUNT(gap_us) AS n_gaps,
        |  CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
        |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
        |  round(CAST(SUM(gap_us) AS BIGINT) / 1000000.0 / COUNT(gap_us), 6) AS avg_gap_s
        |FROM d WHERE gap_us IS NOT NULL GROUP BY 1""".stripMargin) { (spark, dir) =>
      // lag over a handful of event types spanning the fact table is the
      // t87 class — GroupedLag buckets the time range, lags within each
      // (type, bucket) slice, and stitches slice boundaries with the
      // previous slice's last timestamp (driver-folded, broadcast back).
      // (ts, event_id) order == (us, event_id): unix_micros is monotone.
      graft.operators.GroupedLag.withLag(
          Tables.load(spark, dir, "events")
            .select(col("event_type"), col("ts"), col("event_id"),
              unix_micros(col("ts")).as("us")),
          Seq("event_type"), "us", tieBreak = Seq(col("event_id")),
          value = col("us"), out = "prev_us")
        .withColumn("gap_us", col("us") - col("prev_us"))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"),
          round(sum(col("gap_us")) / 1000000.0 / count(lit(1)), 6).as("avg_gap_s"))
    },

    // E22: NEAREST-event join — each purchase attributes to the closest
    // click by the same user within ±1 h, either direction: the symmetric
    // completion of e4's backward-only as-of. Both directions ride the
    // SAME union+running-window as-of machinery (the forward pass feeds
    // negated micros through AsOfJoin.backward — r.(-ts) <= l.(-ts) IS
    // r.ts >= l.ts), so the plan stays two sort-linear passes, never a
    // per-key theta join. Ties: equal distance prefers the earlier
    // (backward) click; equal timestamps prefer the greatest event id —
    // both pinned identically in the oracle's rank ordering.
    QueryDef.sql(
      "e22_nearest_event_join",
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |cand AS (
        |  SELECT p.event_id, p.user_id, p.ts, c.event_id AS click_event_id, c.ts AS click_ts
        |  FROM p JOIN c ON p.user_id = c.user_id
        |   AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts + INTERVAL 1 HOUR),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY event_id
        |    ORDER BY abs(epoch_us(click_ts) - epoch_us(ts)), click_ts, click_event_id DESC) AS rn
        |  FROM cand)
        |SELECT event_id, user_id, ts, click_event_id, click_ts,
        |  CAST(epoch_us(click_ts) - epoch_us(ts) AS BIGINT) AS gap_us
        |FROM r WHERE rn = 1""".stripMargin) { (spark, dir) =>
      val ev = Tables.load(spark, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val back = graft.operators.AsOfJoin.backward(
        purchases, clicks, keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("ts" -> "b_ts", "event_id" -> "b_id"),
        rightTiebreak = Seq("event_id"))
      val negP = purchases.withColumn("nts", -unix_micros(col("ts")))
      val negC = clicks.withColumn("nts", -unix_micros(col("ts")))
      val fwd = graft.operators.AsOfJoin.backward(
        negP, negC, keys = Seq("user_id"), leftTs = "nts", rightTs = "nts",
        payload = Seq("ts" -> "f_ts", "event_id" -> "f_id"),
        // ascending tiebreak + last-wins = greatest event id, same as back
        rightTiebreak = Seq("event_id"))
        .drop("nts")
      val j = back.join(fwd, Seq("event_id", "user_id", "ts"))
      val bGap = unix_micros(col("ts")) - unix_micros(col("b_ts"))
      val fGap = unix_micros(col("f_ts")) - unix_micros(col("ts"))
      val hourUs = 3600L * 1000000L
      val bOk = col("b_ts").isNotNull && bGap <= hourUs
      val fOk = col("f_ts").isNotNull && fGap <= hourUs
      // equal distance prefers backward (the earlier click_ts)
      val useBack = bOk && (!fOk || bGap <= fGap)
      j.filter(bOk || fOk)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(useBack, col("b_id")).otherwise(col("f_id")).as("click_event_id"),
          when(useBack, col("b_ts")).otherwise(col("f_ts")).as("click_ts"),
          when(useBack, -bGap).otherwise(fGap).as("gap_us"))
    },

    // E23: interval-union coverage — each event opens a 30-min presence
    // window; overlapping windows merge and each user reports merged
    // interval count + total covered time. The classic sweep, distributed:
    // a running max of prior interval ends (user-partitioned window) flags
    // interval starts, a running sum of flags numbers the islands, and two
    // keyed aggregates roll up — no self-join, no interval-pair explosion.
    // All time math in exact integer micros. Rows with identical (start,
    // end) permute freely under the ROWS frames without changing any flag,
    // so the sweep is deterministic without an id tiebreak.
    QueryDef.sql(
      "e23_interval_coverage",
      """WITH iv AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e FROM events),
        |o AS (SELECT user_id, s, e, MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM iv),
        |f AS (SELECT user_id, s, e,
        |        CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS flag FROM o),
        |g AS (SELECT user_id, s, e, SUM(flag) OVER (PARTITION BY user_id ORDER BY s, e
        |        ROWS UNBOUNDED PRECEDING) AS iid FROM f),
        |m AS (SELECT user_id, iid, MIN(s) AS ms, MAX(e) AS me FROM g GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_intervals,
        |  CAST(SUM(me - ms) AS BIGINT) AS covered_us
        |FROM m GROUP BY 1""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(spark, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) + 1800000000L).as("e"))
        .withColumn("pmax", max(col("e")).over(wPrev))
        .withColumn("flag",
          when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
        .withColumn("iid", sum(col("flag")).over(wRun))
        .groupBy(col("user_id"), col("iid"))
        .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("me") - col("ms")).as("covered_us"))
    },

    // E24: point-in-time (time-travel) lookup against the e10 SCD2 history:
    // each user's state as of a fixed instant — the feature-store query
    // every training-set builder runs to avoid label leakage. Same
    // change-detect windows as e10 (one user-key partitioning), then a
    // scan-level interval filter; at 100 TB the filter prunes to |users|
    // rows with zero additional shuffles.
    QueryDef.sql(
      "e24_point_in_time",
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM o
        |      WHERE prev IS NULL OR event_type <> prev),
        |v AS (SELECT user_id, event_type, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to FROM c)
        |SELECT user_id, event_type AS state_at, valid_from
        |FROM v
        |WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 12:00:00')""".stripMargin) { (spark, dir) =>
      val asOf = to_timestamp(lit("2024-01-15 12:00:00"))
      scd2Intervals(spark, dir)
        .filter(col("ts") <= asOf &&
          (col("valid_to").isNull || col("valid_to") > asOf))
        .select(col("user_id"), col("event_type").as("state_at"),
          col("ts").as("valid_from"))
    },

    // E26: weekday×hour activity profile — the load-shape heatmap behind
    // capacity planning and anomaly baselines. Day-of-week goes through
    // ISO numbering on both engines (DuckDB isodow = Spark weekday + 1,
    // Monday = 1); one groupBy on a 168-key space, partial-aggregated
    // map-side so the shuffle is |keys|, not |events|.
    QueryDef.sql(
      "e26_weekday_hour_profile",
      """SELECT CAST(isodow(ts) AS INT) AS dow, CAST(hour(ts) AS INT) AS hr,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "events")
        .groupBy(
          (weekday(col("ts")) + 1).cast("int").as("dow"),
          hour(col("ts")).cast("int").as("hr"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    },

    // E27: equi-width value histogram per event type — bucket index by
    // IEEE double division + floor (bit-identical across engines; no
    // width_bucket, which DuckDB lacks), value mass via exact decimal.
    // One |types×buckets|-key rollup, map-side partial.
    QueryDef.sql(
      "e27_value_histogram",
      """SELECT event_type, CAST(least(floor("value" / 50.0), 9) AS INT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "events")
        .groupBy(col("event_type"),
          least(floor(col("value") / 50.0), lit(9)).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"), Num.sumMoney(col("value")).as("value_sum"))
    },

    // E28: out-of-orderness audit — per hour, how many events arrived more
    // than 10 min behind their key's high-water mark (event_id = arrival
    // order). This is the measurement that sizes a streaming watermark
    // delay. The running max is per-user (partitioned window, scale-safe —
    // a global high-water mark would funnel the frame through one task);
    // the rollup is a |hours|-key aggregate.
    QueryDef.sql(
      "e28_late_event_audit",
      """WITH m AS (SELECT ts, user_id,
        |    max(ts) OVER (PARTITION BY user_id ORDER BY event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM events)
        |SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS n_events,
        |  CAST(COUNT(*) FILTER (WHERE hwm IS NOT NULL
        |    AND epoch_us(ts) < epoch_us(hwm) - 600000000) AS BIGINT) AS n_late
        |FROM m GROUP BY 1""".stripMargin) { (spark, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.load(spark, dir, "events")
        .withColumn("hwm", max(col("ts")).over(w))
        .groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("hwm").isNotNull &&
            unix_micros(col("ts")) < unix_micros(col("hwm")) - 600000000L, 1L)
            .otherwise(0L)).as("n_late"))
    },

    // E29: Gini coefficient of per-user activity — the concentration
    // number behind "10% of users produce 80% of events" capacity and
    // abuse baselines. G = 2·Σ(i·cᵢ)/(n·Σc) − (n+1)/n over counts sorted
    // ascending: every term is an exact integer until ONE final division
    // (both engines convert the exact integer products to double the same
    // way — no accumulation-order float drift). The global rank i comes
    // from operators/PrefixSum (range-bucketed running sum of 1), NOT a
    // no-partition window, so no task ever holds the |users| frame.
    QueryDef.sql(
      "e29_activity_gini",
      """WITH oc AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS i FROM oc)
        |SELECT round(CAST(2 * SUM(i * c) AS DOUBLE) / CAST(COUNT(*) * SUM(c) AS DOUBLE)
        |         - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS gini,
        |  COUNT(*) AS n_users, CAST(SUM(c) AS BIGINT) AS n_events
        |FROM r""".stripMargin) { (spark, dir) =>
      val oc = Tables.load(spark, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val ranked = graft.operators.PrefixSum.withRunningSum(
        oc, rangeCol = "c", descending = false, tieBreak = Seq(col("user_id")),
        value = lit(1L), out = "i")
      // Integer products stay exact (long) until the single double cast —
      // mirrors the oracle's HUGEINT-then-double exactly while n·Σc < 2^63.
      ranked.agg(
        round((lit(2L) * sum(col("i") * col("c"))).cast(DoubleType) /
            (count(lit(1)) * sum(col("c"))).cast(DoubleType) -
            (count(lit(1)) + lit(1L)).cast(DoubleType) / count(lit(1)).cast(DoubleType),
          6).as("gini"),
        count(lit(1)).as("n_users"),
        sum(col("c")).as("n_events"))
    },

    // E30: first-touch conversion attribution — which entry event a user's
    // journey STARTED with, and how that first touch converts. Per user,
    // ONE fact-keyed aggregate finds both the first event (min_by over the
    // (ts, event_id) struct — no per-user window, ties broken exactly like
    // the oracle's row_number order) and the first purchase; the rollup by
    // first_type is then |event_types|-sized. Latency stays in exact
    // integer microseconds until the single AVG division (one IEEE divide,
    // bit-identical across engines — the f7 doctrine).
    QueryDef.sql(
      "e30_first_touch_attribution",
      """WITH o AS (SELECT user_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |f AS (SELECT user_id, event_type AS first_type, ts AS first_ts
        |      FROM o WHERE rn = 1),
        |p AS (SELECT user_id, MIN(ts) AS first_purchase FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT first_type, COUNT(*) AS n_users,
        |  COUNT(first_purchase) AS n_converted,
        |  round(CAST(COUNT(first_purchase) AS DOUBLE) / COUNT(*), 6) AS conversion_rate,
        |  round(AVG(epoch_us(first_purchase) - epoch_us(first_ts)), 6) AS avg_latency_us
        |FROM f LEFT JOIN p USING (user_id) GROUP BY 1""".stripMargin) { (spark, dir) =>
      val ev = Tables.load(spark, dir, "events")
      val firsts = ev.groupBy(col("user_id")).agg(
        min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("first_type"),
        min(col("ts")).as("first_ts"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      firsts.groupBy(col("first_type")).agg(
        count(lit(1)).as("n_users"),
        count(col("first_purchase")).as("n_converted"),
        round(count(col("first_purchase")).cast(DoubleType) / count(lit(1)), 6)
          .as("conversion_rate"),
        round(avg(unix_micros(col("first_purchase")) - unix_micros(col("first_ts"))), 6)
          .as("avg_latency_us"))
    })
}
