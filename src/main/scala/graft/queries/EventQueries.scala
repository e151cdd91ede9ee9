package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream-shaped operators verified in batch mode (the same plans
  * run under Structured Streaming in graft.streaming; SURVEY §2.9). The
  * `events` table is the micro-batch analogue of the reference's SQS
  * record stream.
  */
object EventQueries {

  /** DuckDB rendering of Sketch.hash32 over an arbitrary expression
    * (md5-prefix 32-bit hash as exact integer arithmetic).
    */
  private def hash32Sql(e: String): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 8),
       |      i -> (strpos('0123456789abcdef', substr(md5($e), i, 1)) - 1)
       |           * (16 ** (8 - i)))) AS BIGINT)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ── Count-Min Sketch frequency estimation: d·w bounded cells (md5
    //    hash family, mergeable by adding counts), point estimates =
    //    min over rows — overestimate-only, verified against exact
    //    counts for the top-10 users ──
    "ev_cms_counts" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val cells = graft.ops.Sketch.cmsCells(ev, "user_id", depth = 3, width = 256)
        val top = ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("user_id"))
          .limit(10)
          // the estimate branch and the output join both read this frame
          .localCheckpoint(eager = false)
        val est = graft.ops.Sketch.cmsEstimate(
          top.select(col("user_id")), cells, "user_id", depth = 3, width = 256)
        top.join(est, col("user_id") === col("key"))
          .select(col("user_id"), col("exact_n"), col("est"),
            (col("est") - col("exact_n")).as("over"))
          .orderBy(col("exact_n").desc, col("user_id"))
      },
      s"""WITH js AS (SELECT unnest(generate_series(1, 3)) AS j),
         |pos AS (
         |  SELECT user_id, j,
         |    ${hash32Sql("CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")} % 256 AS p
         |  FROM events CROSS JOIN js),
         |cells AS (SELECT j, p, CAST(count(*) AS BIGINT) AS cnt FROM pos GROUP BY 1, 2),
         |top AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
         |        FROM events GROUP BY 1 ORDER BY exact_n DESC, user_id LIMIT 10),
         |kpos AS (
         |  SELECT user_id, j,
         |    ${hash32Sql("CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")} % 256 AS p
         |  FROM top CROSS JOIN js),
         |est AS (SELECT k.user_id, min(coalesce(c.cnt, 0)) AS est
         |        FROM kpos k LEFT JOIN cells c USING (j, p) GROUP BY 1)
         |SELECT t.user_id, exact_n, est, est - exact_n AS over
         |FROM top t JOIN est USING (user_id)
         |ORDER BY exact_n DESC, user_id""".stripMargin),

    // ── native session_window aggregation (the streaming-capable session
    //    operator, exercised in batch): sessions merge while consecutive
    //    events are ≤ gap apart (boundary-equal events MERGE — pinned
    //    empirically), window end = last event + gap ──
    "ev_session_window" -> QueryDef(
      (spark, dir) =>
        Tables.events(spark, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
            col("n_events"))
          .orderBy(col("user_id"), col("session_start")),
      """WITH flags AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |           OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flags)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // ── tumbling-window aggregation (streaming groupBy window(ts)) ──
    "ev_hourly_agg" -> QueryDef(
      (spark, dir) =>
        Tables.events(spark, dir)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_c"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
            col("event_type"), col("n"), col("value_c"))
          .orderBy(col("hour"), col("event_type")),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS value_c
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),

    // ── rate-limit audit: events beyond N per (user, day) flagged in
    //    arrival order (ts, event_id total order) — the abuse/quota
    //    scan; windows stay at the (user, day) grain ──
    "ev_rate_limit_audit" -> QueryDef(
      (spark, dir) => {
        val limit = 3
        val byUserDay = Window
          .partitionBy(col("user_id"), expr("ts_ns DIV 86400000000000"))
          .orderBy(col("ts_ns"), col("event_id"))
        Tables.events(spark, dir)
          .withColumn("seq", row_number().over(byUserDay))
          .filter(col("seq") > limit)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_throttled"),
            min(col("event_id")).as("first_throttled"))
          .orderBy(col("user_id"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id, epoch_ns(ts) // 86400000000000
        |                       ORDER BY epoch_ns(ts), event_id) AS seq
        |  FROM events)
        |SELECT user_id, count(*) AS n_throttled,
        |  min(event_id) AS first_throttled
        |FROM e WHERE seq > 3
        |GROUP BY 1 ORDER BY user_id""".stripMargin),

    // ── behavioral Markov transitions: per-user event-type bigrams in
    //    time order → the corpus-wide transition count matrix (the
    //    first-order behavior model behind next-action prediction and
    //    anomaly scoring). Per-user windows only — never a global sort ──
    "ev_markov_transitions" -> QueryDef(
      (spark, dir) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts_ns"), col("event_id"))
        Tables.events(spark, dir)
          .withColumn("prev", lag(col("event_type"), 1).over(byUser))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev"), col("event_type").as("curr"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("prev"), col("curr"))
      },
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS prev
        |  FROM events)
        |SELECT prev, event_type AS curr, count(*) AS n
        |FROM s WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY prev, curr""".stripMargin),

    // ── sessionization: 30-min inactivity gap as gaps-and-islands — a
    //    lag() gap flag and its running sum per user over the whole
    //    history, one row per (user, session) ──
    "ev_sessionize" -> QueryDef(
      (spark, dir) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val newSession = when(
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser) > 1800L * 1000000L
            || lag(col("ts"), 1).over(byUser).isNull, 1).otherwise(0)
        Tables.events(spark, dir)
          .withColumn("new_s", newSession)
          .withColumn("session_idx",
            sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("n_events"),
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
          .orderBy(col("user_id"), col("session_idx"))
      },
      """WITH flags AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |           OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM flags)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM sess GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin),

    // ── latest-event-per-key (streaming dropDuplicates / dedup-by-UUID) ──
    "ev_latest_per_user" -> QueryDef(
      (spark, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(spark, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            col("event_type"))
          .orderBy(col("user_id"))
      },
      """SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // ── as-of join: latest prior purchase value attached to each click
    //    (oracle: DuckDB's NATIVE ASOF JOIN — an independent implementation
    //    of the same semantics) ──
    "ev_asof_join" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(floor(col("value") * 100 + 0.5).cast("long")).as("purchase_c"))
        graft.ops.AsofJoin.join(clicks, purchases, "user_id", "ts", Seq("purchase_c"))
          .select(col("event_id"), col("user_id"),
            col("asof_purchase_c").as("last_purchase_c"))
          .orderBy(col("event_id"))
      },
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts, max(CAST(floor(value*100 + 0.5) AS BIGINT)) AS purchase_c
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, p.purchase_c AS last_purchase_c
        |FROM clicks c
        |ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin),

    // ── the SAME as-of semantics through the native whole-operator plan
    //    (graft.plans.AsofJoinExec: LogicalPlan + Strategy + SparkPlan,
    //    one exchange per side + single merge pass) — identical oracle ──
    "ev_asof_join_native" -> QueryDef(
      (spark, dir) => {
        val clicks = Tables.events(spark, dir)
          .filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purchases = Tables.events(spark, dir)
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(floor(col("value") * 100 + 0.5).cast("long")).as("purchase_c"))
        graft.ops.AsofJoin.native(clicks, purchases, "user_id", "ts", Seq("purchase_c"))
          .select(col("event_id"), col("user_id"),
            col("asof_purchase_c").as("last_purchase_c"))
          .orderBy(col("event_id"))
      },
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts, max(CAST(floor(value*100 + 0.5) AS BIGINT)) AS purchase_c
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id, p.purchase_c AS last_purchase_c
        |FROM clicks c
        |ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin),

    // ── range join WITHOUT an equi-key (every 50th event opens a 2-hour
    //    interval; count the events inside each): bucketized to an
    //    equi-join on hour buckets + exact post-filter — the naive plan
    //    is a BroadcastNestedLoopJoin over the range predicate ──
    // ── attribution under the hash gate: views within the hour before
    //    each purchase, per user (inclusive horizon; one view may touch
    //    several purchases). Scale plan: equi-join ON THE USER KEY
    //    (shuffle by user, co-partitioned with every other user-grain
    //    stage) + exact time post-filter; gaps stay integer epoch-ns ──
    "ev_attribution" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val hourUs = 3600L * 1000000L
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id").as("pu"),
            expr("ts_ns DIV 1000").as("pts"))
        val v = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("vu"), expr("ts_ns DIV 1000").as("vts"))
        p.join(v, col("pu") === col("vu") && col("vts") <= col("pts") &&
            col("vts") >= col("pts") - lit(hourUs))
          .groupBy(col("pid"))
          .agg(count(lit(1)).as("n_touches"),
            min(col("pts") - col("vts")).as("last_gap_us"))
          .orderBy(col("pid"))
      },
      """SELECT p.event_id AS pid, count(*) AS n_touches,
        |  CAST(min(epoch_us(p.ts) - epoch_us(v.ts)) AS BIGINT) AS last_gap_us
        |FROM events p JOIN events v ON p.user_id = v.user_id
        | AND epoch_us(v.ts) <= epoch_us(p.ts)
        | AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |GROUP BY 1 ORDER BY pid""".stripMargin),

    // ── interval×interval overlap (campaign windows vs incident
    //    windows): bucketized equi-join with first-shared-bucket
    //    attribution — one row per overlapping pair, no dedup pass;
    //    oracle is the plain quadratic overlap join ──
    "ev_interval_overlap" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val hourNs = 3600L * 1000000000L
        val a = ev.filter(col("event_id") % 50 === 0)
          .select(col("event_id").as("a_id"),
            col("ts_ns").as("a_start"), (col("ts_ns") + 2 * hourNs).as("a_end"))
        val b = ev.filter(col("event_id") % 73 === 0)
          .select(col("event_id").as("b_id"),
            (col("ts_ns") - hourNs).as("b_start"),
            (col("ts_ns") + hourNs).as("b_end"))
        graft.ops.RangeJoin
          .intervalOverlap(a, "a_start", "a_end", b, "b_start", "b_end", hourNs)
          .groupBy(col("a_id")).agg(count(lit(1)).as("n_overlaps"))
          .orderBy(col("a_id"))
      },
      """WITH e AS (SELECT event_id, epoch_ns(ts) AS ts_ns FROM events),
        |a AS (SELECT event_id AS a_id, ts_ns AS a_start,
        |        ts_ns + 7200000000000 AS a_end FROM e WHERE event_id % 50 = 0),
        |b AS (SELECT event_id AS b_id, ts_ns - 3600000000000 AS b_start,
        |        ts_ns + 3600000000000 AS b_end FROM e WHERE event_id % 73 = 0)
        |SELECT a_id, count(*) AS n_overlaps
        |FROM a JOIN b ON a_start < b_end AND b_start < a_end
        |GROUP BY 1 ORDER BY a_id""".stripMargin),

    "ev_range_join" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val hourNs = 3600L * 1000000000L
        val points = ev.select(col("event_id").as("p_id"), col("ts_ns").as("p_ts"))
        val intervals = ev.filter(col("event_id") % 50 === 0)
          .select(col("event_id").as("interval_id"),
            col("ts_ns").as("i_start"),
            (col("ts_ns") + 2 * hourNs).as("i_end"))
        graft.ops.RangeJoin
          .pointInInterval(points, "p_ts", intervals, "i_start", "i_end", hourNs)
          .groupBy(col("interval_id")).agg(count(lit(1)).as("n_points"))
          .orderBy(col("interval_id"))
      },
      """SELECT i.event_id AS interval_id, count(*) AS n_points
        |FROM events i JOIN events p
        |  ON p.ts >= i.ts AND p.ts < i.ts + INTERVAL 2 HOUR
        |WHERE i.event_id % 50 = 0
        |GROUP BY 1 ORDER BY interval_id""".stripMargin),

    // ── Z-order (Morton) layout audit: interleave user_id × hour-of-day
    //    bits, bucket the curve, and show every bucket's 2-D bounding box
    //    is tight in BOTH dimensions — the min/max file-stat pruning
    //    property lakehouse OPTIMIZE ZORDER buys. Pure bit arithmetic ──
    "ev_zorder_layout" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        ev.select(col("user_id"), hour(col("ts")).as("hr"))
          .withColumn("z", graft.ops.ZOrder.zvalue(col("user_id"), col("hr"), 8))
          .withColumn("zbucket", expr("z DIV 256"))
          .groupBy(col("zbucket"))
          .agg(count(lit(1)).as("n"),
            min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
            min(col("hr")).as("min_hr"), max(col("hr")).as("max_hr"))
          .orderBy(col("zbucket"))
      },
      """WITH t AS (
        |  SELECT user_id,
        |    CAST(hour(ts) AS INT) AS hr,
        |    CAST(list_sum(list_transform(generate_series(0, 7),
        |      i -> ((user_id >> i) & 1) * (CAST(1 AS BIGINT) << (2*i))
        |         + ((CAST(hour(ts) AS BIGINT) >> i) & 1)
        |           * (CAST(1 AS BIGINT) << (2*i+1))))
        |      AS BIGINT) AS z
        |  FROM events)
        |SELECT z // 256 AS zbucket, count(*) AS n,
        |  min(user_id) AS min_user, max(user_id) AS max_user,
        |  min(hr) AS min_hr, max(hr) AS max_hr
        |FROM t GROUP BY 1 ORDER BY zbucket""".stripMargin),

    // ── skew-tolerant aggregation under the gate: two-phase salted count
    //    (partial per (key, salt) → final per key) must equal the plain
    //    per-key count — the decomposition the salting utilities rely on ──
    "ev_salted_count" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val salted = graft.ops.Skew.saltedCount(ev, "event_type",
          salts = 8, saltSource = "event_id")
        salted
          .select(col("event_type"), col("n").cast("long").as("n"))
          .orderBy(col("event_type"))
      },
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin),

    // ── salted equi-join under the gate: the skewed side salts, the dim
    //    side replicates across salts — must equal the plain join ──
    "ev_salted_join" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val dim = ev.select(col("event_type")).distinct()
          .withColumn("tcode", upper(col("event_type")))
        val joined = graft.ops.Skew.saltedJoin(
          ev.select(col("event_id"), col("event_type")), dim,
          key = "event_type", salts = 4, saltSource = "event_id")
        joined.groupBy(col("tcode")).agg(count(lit(1)).as("n"))
          .orderBy(col("tcode"))
      },
      """SELECT upper(event_type) AS tcode, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY tcode""".stripMargin),

    // ── KMV distinct sketch: k smallest md5 hashes per group → distinct
    //    estimate (k-1)·2³²/h_k, alongside the exact count. k=8 because
    //    the sf0.001 corpus has only 15 users/group. Deterministic and
    //    fully hash-gated — an engine-native HLL can't be. ──
    // ── cohort retention: integer epoch-week buckets (calendar-free —
    //    identical integer DIV in every engine), two aggregations ──
    "ev_cohort_retention" -> QueryDef(
      (spark, dir) => {
        val weekNs = 604800000000000L
        val ev = Tables.events(spark, dir)
          .select(col("user_id"), expr(s"ts_ns DIV $weekNs").as("wk"))
        val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
        ev.join(cohort, Seq("user_id"))
          .select(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"),
            col("user_id"))
          .distinct()
          .groupBy(col("cohort_wk"), col("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort_wk"), col("week_offset"))
      },
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 604800000000000 AS wk
        |           FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT c.cohort_wk, e.wk - c.cohort_wk AS week_offset,
        |        e.user_id
        |      FROM e JOIN c USING (user_id))
        |SELECT cohort_wk, week_offset, CAST(count(*) AS BIGINT) AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── ordered funnel (view → click → purchase): per-user conditional
    //    first-times on exact integer nanos; three map-combined
    //    aggregations at the user grain, no window over the corpus ──
    "ev_funnel_steps" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("user_id"), col("event_type"), col("ts_ns"))
          .localCheckpoint(eager = false)
        val t1 = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts_ns")).as("t1"))
        val t2 = ev.filter(col("event_type") === "click")
          .join(t1, Seq("user_id"))
          .filter(col("ts_ns") > col("t1"))
          .groupBy(col("user_id")).agg(min(col("ts_ns")).as("t2"))
        val t3 = ev.filter(col("event_type") === "purchase")
          .join(t2, Seq("user_id"))
          .filter(col("ts_ns") > col("t2"))
          .groupBy(col("user_id")).agg(min(col("ts_ns")).as("t3"))
        val counts = Seq(
          ("1_view", t1), ("2_click", t2), ("3_purchase", t3))
        counts.map { case (step, df) =>
          df.agg(count(lit(1)).as("n_users")).select(lit(step).as("step"), col("n_users"))
        }.reduce(_ unionAll _).orderBy(col("step"))
      },
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts_ns FROM events),
        |t1 AS (SELECT user_id, min(ts_ns) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(ts_ns) AS t2 FROM e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND ts_ns > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(ts_ns) AS t3 FROM e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts_ns > t2 GROUP BY 1)
        |SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM t1
        |UNION ALL
        |SELECT '2_click', CAST(count(*) AS BIGINT) FROM t2
        |UNION ALL
        |SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM t3
        |ORDER BY step""".stripMargin),

    // ── HyperLogLog distinct sketch: 256 md5-derived registers, EXACT
    //    integer harmonic denominator (Σ 2^(33−M) — order-independent),
    //    estimate = one IEEE division; ln small-range correction kept
    //    outside the hash gate (libm drift), inputs carried in `zeros` ──
    "ev_hll_distinct" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val est = graft.ops.Hll.estimate(ev, "event_type", "event_id")
        val ex = ev.groupBy(col("event_type").as("grp"))
          .agg(countDistinct(col("event_id")).as("exact_distinct"))
        est.join(ex, Seq("grp")).orderBy(col("grp"))
      }, {
        def h32(off: Int) =
          "CAST(list_sum(list_transform(generate_series(1, 8), " +
            "i -> (strpos('0123456789abcdef', " +
            s"substr(md5(CAST(event_id AS VARCHAR)), $off + i, 1)) - 1) " +
            "* (16 ** (8 - i)))) AS BIGINT)"
        s"""WITH h AS (SELECT event_type AS grp,
           |    ${h32(0)} AS h1, ${h32(8)} AS h2 FROM events),
           |reg AS (SELECT grp, h1 % 256 AS idx,
           |    max(CASE WHEN h2 = 0 THEN 33
           |             ELSE 33 - length(bin(h2)) END) AS mreg
           |  FROM h GROUP BY 1, 2),
           |ag AS (SELECT grp, CAST(count(*) AS INT) AS v_used,
           |    CAST(sum(CAST(1 AS BIGINT) << CAST(33 - mreg AS INT)) AS BIGINT)
           |      AS sum_present
           |  FROM reg GROUP BY 1),
           |ex AS (SELECT event_type AS grp,
           |    CAST(count(DISTINCT event_id) AS BIGINT) AS exact_distinct
           |  FROM events GROUP BY 1)
           |SELECT ag.grp, v_used, (256 - v_used) AS zeros,
           |  sum_present + (CAST(256 AS BIGINT) - v_used) * 8589934592 AS sum_scaled,
           |  CAST(floor(${graft.ops.Hll.EstNumerator} /
           |    (sum_present + (CAST(256 AS BIGINT) - v_used) * 8589934592) + 0.5)
           |    AS BIGINT) AS est,
           |  exact_distinct
           |FROM ag JOIN ex ON ag.grp = ex.grp ORDER BY ag.grp""".stripMargin
      }),

    // ── gap fill / resample: generate the dense hour spine [min, max]
    //    with sequence(), left-join the observed counts, zero-fill — the
    //    time-series normalization every downstream window op assumes.
    //    Spine size is (max−min) ticks regardless of input volume ──
    "ev_gap_fill" -> QueryDef(
      (spark, dir) => {
        val c = Tables.events(spark, dir)
          .groupBy(expr("ts_ns DIV 3600000000000").as("h"))
          .agg(count(lit(1)).as("cnt"))
        val spine = c.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
          .select(explode(expr("sequence(lo, hi)")).as("h"))
        spine.join(c, Seq("h"), "left")
          .select(col("h"), coalesce(col("cnt"), lit(0L)).as("cnt"),
            col("cnt").isNull.as("filled"))
          .orderBy(col("h"))
      },
      """WITH c AS (SELECT epoch_ns(ts) // 3600000000000 AS h,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |sp AS (SELECT unnest(generate_series(
        |    (SELECT min(h) FROM c), (SELECT max(h) FROM c))) AS h)
        |SELECT sp.h, coalesce(c.cnt, 0) AS cnt, c.cnt IS NULL AS filled
        |FROM sp LEFT JOIN c ON sp.h = c.h ORDER BY sp.h""".stripMargin),

    // ── EWMA trend over hourly event counts, decayed per tick:
    //    ewma_t = Σ_{0 ≤ t−i ≤ 40} cnt_i >> (t−i) — power-of-two decay as
    //    integer shifts, windowed so each tick reads ≤ 41 neighbors (a
    //    bounded tick-grain range join, never the raw events twice) ──
    "ev_ewma_trend" -> QueryDef(
      (spark, dir) => {
        val c = Tables.events(spark, dir)
          .groupBy(expr("ts_ns DIV 3600000000000").as("h"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(eager = false)
        val t = c.select(col("h").as("t"))
        t.join(c, col("h").between(col("t") - 40, col("t")))
          .select(col("t"),
            expr("shiftright(cnt * 1024, CAST(t - h AS INT))").as("w"))
          .groupBy(col("t")).agg(sum(col("w")).as("ewma_k"))
          .orderBy(col("t"))
      },
      """WITH c AS (SELECT epoch_ns(ts) // 3600000000000 AS h,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1)
        |SELECT t.h AS t, CAST(sum((c.cnt * 1024) >> CAST(t.h - c.h AS INT))
        |    AS BIGINT) AS ewma_k
        |FROM c t JOIN c ON c.h BETWEEN t.h - 40 AND t.h
        |GROUP BY 1 ORDER BY t""".stripMargin),

    // ── robust hourly anomaly detection: median + MAD on the hour-grain
    //    count frame (≤ 720 rows at ANY input size — the corpus-scale work
    //    is the one map-combined count). Median = lower median via
    //    sort_array on the collected tick frame: integer-exact, no
    //    quantile interpolation, engine-identical. Flag cnt > med+3·MAD ──
    "ev_hourly_anomaly" -> QueryDef(
      (spark, dir) => {
        val c = Tables.events(spark, dir)
          .groupBy(expr("ts_ns DIV 3600000000000").as("h"))
          .agg(count(lit(1)).as("cnt"))
        val med = c.agg(expr(
          "element_at(sort_array(collect_list(cnt)), CAST((count(1) + 1) DIV 2 AS INT))")
          .as("med"))
        val d = c.crossJoin(broadcast(med))
          .select(col("h"), col("cnt"), col("med"),
            abs(col("cnt") - col("med")).as("ad"))
        val mad = d.agg(expr(
          "element_at(sort_array(collect_list(ad)), CAST((count(1) + 1) DIV 2 AS INT))")
          .as("mad"))
        d.crossJoin(broadcast(mad))
          .filter(col("cnt") > col("med") + lit(3) * col("mad"))
          .select(col("h"), col("cnt"), col("med"), col("mad"))
          .orderBy(col("h"))
      },
      """WITH c AS (SELECT epoch_ns(ts) // 3600000000000 AS h,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1),
        |m AS (SELECT list_sort(list(cnt))[CAST((count(*) + 1) // 2 AS INT)]
        |    AS med FROM c),
        |d AS (SELECT h, cnt, med, abs(cnt - med) AS ad FROM c CROSS JOIN m),
        |m2 AS (SELECT list_sort(list(ad))[CAST((count(*) + 1) // 2 AS INT)]
        |    AS mad FROM d)
        |SELECT h, cnt, med, mad FROM d CROSS JOIN m2
        |WHERE cnt > med + 3 * mad ORDER BY h""".stripMargin),

    // ── sliding-window distinct: trailing-3-tick HLL merge — registers
    //    merge by MAX, so the slide is ONE window pass over the dense
    //    (tick × 256) grid (ticks·256 rows at any input size); exact
    //    trailing distinct joined alongside as the verification column ──
    "ev_hll_sliding" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(expr("ts_ns DIV 3600000000000").as("eh"), col("user_id"))
        val sk = graft.ops.Hll.slidingEstimate(ev, "eh", "user_id", width = 3)
        val ticks = ev.select(col("eh").as("th")).distinct()
        // r13 opt: the exact leg was ticks ⋈ events on a BETWEEN range —
        // a broadcast nested-loop of |ticks| × |events| comparisons. An
        // event at hour eh contributes to exactly the ticks {eh, eh+1,
        // eh+2}, so exploding those three targets turns it into an
        // equi-join (semi vs the real tick set) + one aggregate — linear
        // in events at any scale (guide §3.3: explode beats an
        // inequality join when the window is a small constant)
        val ex = ev
          .select(explode(array(col("eh"), col("eh") + 1, col("eh") + 2)).as("th"),
            col("user_id"))
          .join(broadcast(ticks), Seq("th"), "left_semi")
          .groupBy(col("th"))
          .agg(countDistinct(col("user_id")).as("exact_distinct"))
        sk.join(ex, sk("h") === ex("th")).drop("th").orderBy(col("h"))
      }, {
        def h32(off: Int) =
          "CAST(list_sum(list_transform(generate_series(1, 8), " +
            "i -> (strpos('0123456789abcdef', " +
            s"substr(md5(CAST(user_id AS VARCHAR)), $off + i, 1)) - 1) " +
            "* (16 ** (8 - i)))) AS BIGINT)"
        s"""WITH e AS (SELECT epoch_ns(ts) // 3600000000000 AS eh, user_id
           |           FROM events),
           |hh AS (SELECT eh, ${h32(0)} AS h1, ${h32(8)} AS h2 FROM e),
           |reg AS (SELECT eh AS h, h1 % 256 AS idx,
           |    max(CASE WHEN h2 = 0 THEN 33
           |             ELSE 33 - length(bin(h2)) END) AS mreg
           |  FROM hh GROUP BY 1, 2),
           |ticks AS (SELECT DISTINCT eh AS h FROM e),
           |grid AS (SELECT h, idx FROM ticks
           |  CROSS JOIN (SELECT unnest(generate_series(CAST(0 AS BIGINT),
           |    CAST(255 AS BIGINT))) AS idx)),
           |d AS (SELECT g.h, g.idx, r.mreg FROM grid g
           |  LEFT JOIN reg r ON g.h = r.h AND g.idx = r.idx),
           |m AS (SELECT h, max(mreg) OVER (PARTITION BY idx ORDER BY h
           |    RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS m FROM d),
           |ag AS (SELECT h, CAST(count(m) AS INT) AS v_used,
           |    CAST(sum(CASE WHEN m IS NOT NULL
           |      THEN CAST(1 AS BIGINT) << CAST(33 - m AS INT) END) AS BIGINT)
           |      AS sum_present
           |  FROM m GROUP BY 1),
           |ex AS (SELECT t.h, CAST(count(DISTINCT e.user_id) AS BIGINT)
           |      AS exact_distinct
           |  FROM ticks t JOIN e ON e.eh BETWEEN t.h - 2 AND t.h GROUP BY 1)
           |SELECT ag.h, v_used, (256 - v_used) AS zeros,
           |  coalesce(sum_present, 0) + (CAST(256 AS BIGINT) - v_used)
           |    * 8589934592 AS sum_scaled,
           |  CAST(floor(${graft.ops.Hll.EstNumerator} /
           |    (coalesce(sum_present, 0) + (CAST(256 AS BIGINT) - v_used)
           |      * 8589934592) + 0.5) AS BIGINT) AS est,
           |  exact_distinct
           |FROM ag JOIN ex ON ag.h = ex.h ORDER BY ag.h""".stripMargin
      }),

    "ev_kmv_distinct" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val sk = graft.ops.Sketch.kmvDistinct(ev, "event_type", "user_id", 8)
        val exact = ev.groupBy(col("event_type").as("grp"))
          .agg(countDistinct(col("user_id")).as("exact_distinct"))
        sk.join(exact, Seq("grp")).orderBy(col("grp"))
      },
      """WITH h AS (
        |  SELECT DISTINCT event_type AS grp,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> (strpos('0123456789abcdef',
        |              substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
        |           * (16 ** (8 - i)))) AS BIGINT) AS hv
        |  FROM events),
        |r AS (SELECT grp, hv, row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
        |      FROM h),
        |ex AS (SELECT event_type AS grp, count(DISTINCT user_id) AS exact_distinct
        |       FROM events GROUP BY 1)
        |SELECT r.grp, hv AS h_k,
        |  CAST(floor(7 * 4294967296.0 / hv) AS BIGINT) AS est_distinct,
        |  CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
        |FROM r JOIN ex ON r.grp = ex.grp
        |WHERE rn = 8 ORDER BY r.grp""".stripMargin),

    // ── KMV set operations (theta-sketch shape): click-users vs
    //    purchase-users — A, B, A∪B each a k-min sketch (the union
    //    sketch is KMV over the stacked values: mergeability), A∩B by
    //    inclusion–exclusion clamped at 0; exact counterparts ride the
    //    same row so the estimate error is auditable under the gate ──
    "ev_kmv_setops" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val est = graft.ops.Sketch.kmvSetOps(
          ev.filter(col("event_type") === "click").select(col("user_id")),
          ev.filter(col("event_type") === "purchase").select(col("user_id")),
          "user_id", 8)
        val exact = ev.agg(
          countDistinct(when(col("event_type") === "click", col("user_id")))
            .as("exact_a"),
          countDistinct(when(col("event_type") === "purchase", col("user_id")))
            .as("exact_b"),
          countDistinct(when(col("event_type").isin("click", "purchase"),
            col("user_id"))).as("exact_union"))
        est.crossJoin(exact)
          .withColumn("exact_intersect",
            col("exact_a") + col("exact_b") - col("exact_union"))
      },
      """WITH v AS (
        |  SELECT 'a' AS grp, user_id AS v FROM events WHERE event_type = 'click'
        |  UNION ALL SELECT 'b', user_id FROM events WHERE event_type = 'purchase'
        |  UNION ALL SELECT 'u', user_id FROM events
        |    WHERE event_type IN ('click', 'purchase')),
        |h AS (SELECT DISTINCT grp,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> (strpos('0123456789abcdef',
        |              substr(md5(CAST(v AS VARCHAR)), i, 1)) - 1)
        |           * (16 ** (8 - i)))) AS BIGINT) AS hv
        |  FROM v),
        |r AS (SELECT grp, hv, row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
        |      FROM h),
        |e AS (SELECT grp, CAST(floor(7 * 4294967296.0 / hv) AS BIGINT) AS est
        |      FROM r WHERE rn = 8),
        |p AS (SELECT
        |    max(CASE WHEN grp = 'a' THEN est END) AS est_a,
        |    max(CASE WHEN grp = 'b' THEN est END) AS est_b,
        |    max(CASE WHEN grp = 'u' THEN est END) AS est_union FROM e),
        |x AS (SELECT
        |    CAST(count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS BIGINT) AS exact_a,
        |    CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS exact_b,
        |    CAST(count(DISTINCT CASE WHEN event_type IN ('click', 'purchase') THEN user_id END) AS BIGINT) AS exact_union
        |  FROM events)
        |SELECT est_a, est_b, est_union,
        |  greatest(CAST(0 AS BIGINT), est_a + est_b - est_union) AS est_intersect,
        |  exact_a, exact_b, exact_union,
        |  exact_a + exact_b - exact_union AS exact_intersect
        |FROM p, x""".stripMargin),

    // ── KMV-sample quantiles: bottom-k priority sample (k smallest md5
    //    hashes of the UNIQUE event_id) per event_type, quantile p% =
    //    sample order statistic at integer rank (p·n+99) div 100 — the
    //    sample, rank arithmetic, and hash all replay bit-for-bit in the
    //    oracle (GK/KLL state depends on merge order; this doesn't).
    //    Exact p50 rides the same row from a cum-count over per-cents
    //    tallies (distinct-value grain, not a full-partition sort) so
    //    the sketch error is auditable under the gate. ──
    "ev_kmv_quantile" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("event_type"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"))
        val sk = graft.ops.Sketch.kmvQuantiles(ev, "event_type", "cents",
          col("event_id"), 64, Seq(25, 50, 75, 90, 99))
        val counts = ev.groupBy(col("event_type").as("grp"), col("cents"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("grp")).orderBy(col("cents"))
        val exact = counts
          .withColumn("cum", sum(col("c")).over(w))
          .withColumn("nn", sum(col("c")).over(Window.partitionBy(col("grp"))))
          .filter(col("cum") >=
            greatest(lit(1), floor((lit(50) * col("nn") + lit(99)) / lit(100))))
          .groupBy(col("grp")).agg(min(col("cents")).as("exact_p50"))
        sk.join(exact, Seq("grp")).orderBy(col("grp"))
      },
      """WITH e AS (SELECT event_type AS grp, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |h AS (SELECT grp, cents,
        |    CAST(list_sum(list_transform(generate_series(1, 8),
        |      i -> (strpos('0123456789abcdef',
        |              substr(md5(CAST(event_id AS VARCHAR)), i, 1)) - 1)
        |           * (16 ** (8 - i)))) AS BIGINT) AS pr
        |  FROM e),
        |r AS (SELECT grp, cents,
        |    row_number() OVER (PARTITION BY grp ORDER BY pr, cents) AS rn
        |  FROM h),
        |s AS (SELECT grp, cents, rn FROM r WHERE rn <= 64),
        |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_sample FROM s GROUP BY 1),
        |o AS (SELECT grp, cents,
        |    row_number() OVER (PARTITION BY grp ORDER BY cents, rn) AS vr
        |  FROM s),
        |q AS (SELECT o.grp, n_sample,
        |    max(CASE WHEN vr = greatest(1, (25 * n_sample + 99) // 100)
        |        THEN cents END) AS p25,
        |    max(CASE WHEN vr = greatest(1, (50 * n_sample + 99) // 100)
        |        THEN cents END) AS p50,
        |    max(CASE WHEN vr = greatest(1, (75 * n_sample + 99) // 100)
        |        THEN cents END) AS p75,
        |    max(CASE WHEN vr = greatest(1, (90 * n_sample + 99) // 100)
        |        THEN cents END) AS p90,
        |    max(CASE WHEN vr = greatest(1, (99 * n_sample + 99) // 100)
        |        THEN cents END) AS p99
        |  FROM o JOIN n ON o.grp = n.grp GROUP BY 1, 2),
        |cnt AS (SELECT grp, cents, count(*) AS c FROM e GROUP BY 1, 2),
        |cum AS (SELECT grp, cents,
        |    sum(c) OVER (PARTITION BY grp ORDER BY cents) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS nn
        |  FROM cnt),
        |ex AS (SELECT grp, min(cents) AS exact_p50 FROM cum
        |  WHERE cum >= greatest(1, (50 * nn + 99) // 100) GROUP BY 1)
        |SELECT q.grp, n_sample, p25, p50, p75, p90, p99, exact_p50
        |FROM q JOIN ex ON q.grp = ex.grp ORDER BY q.grp""".stripMargin),

    // ── editorial retry protocol (RetryHandler,
    //    tre_editorial_integration.py:432-542): per-consignment sequential
    //    state machine — incoming must be last-accepted+1, limit 3 hard-
    //    fails. Spark side is a distributed per-key sorted scan
    //    (flatMapSortedGroups); the oracle replays the same state machine
    //    with a recursive CTE. ──
    "ev_editorial_retry" -> QueryDef(
      (spark, dir) => {
        val base = Tables.events(spark, dir)
          .filter(col("event_id") % 31 === 0)
          .select(concat(lit("R-"), pmod(col("user_id"), lit(40))).as("reference"),
            col("event_id"))
          .withColumn("seq", row_number()
            .over(Window.partitionBy(col("reference")).orderBy(col("event_id")))
            .cast("int"))
          .withColumn("incoming",
            (col("seq") + when(col("event_id") % 5 === 0, 1).otherwise(0)).cast("int"))
        graft.ops.editorial.RetryLoop
          .retryStateMachine(base, "reference", "seq", "incoming", maxRetries = 3)
          .orderBy(col("reference"), col("seq"))
      },
      """WITH RECURSIVE base AS (
        |  SELECT 'R-' || (user_id % 40) AS reference, event_id,
        |    CAST(row_number() OVER (PARTITION BY user_id % 40 ORDER BY event_id) AS INT) AS seq
        |  FROM events WHERE event_id % 31 = 0),
        |b2 AS (
        |  SELECT reference, seq,
        |    CAST(seq + CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS INT) AS incoming
        |  FROM base),
        |step AS (
        |  SELECT reference, 0 AS seq, 0 AS incoming, 0 AS expected,
        |    CAST(NULL AS VARCHAR) AS route, 0 AS last
        |  FROM (SELECT DISTINCT reference FROM b2)
        |  UNION ALL
        |  SELECT b.reference, b.seq, b.incoming, s.last + 1 AS expected,
        |    CASE WHEN b.incoming >= 3 THEN 'fail'
        |         WHEN b.incoming <> s.last + 1 THEN 'error'
        |         ELSE 'retry' END AS route,
        |    CASE WHEN b.incoming < 3 AND b.incoming = s.last + 1
        |         THEN b.incoming ELSE s.last END AS last
        |  FROM step s JOIN b2 b ON b.reference = s.reference AND b.seq = s.seq + 1)
        |SELECT reference, seq, incoming, expected, route
        |FROM step WHERE seq >= 1 ORDER BY reference, seq""".stripMargin),

    // ── retry routing: business retry limit (reference: fail at 3,
    //    tre_bagit_checksum_validation.py:159-163) ──
    "ev_retry_route" -> QueryDef(
      (spark, dir) =>
        Tables.events(spark, dir)
          .select(col("event_id"),
            (get_json_object(col("props"), "$.k").cast("int") % 5).as("retries"))
          .withColumn("route",
            when(col("retries") >= 3, lit("fail"))
              .otherwise(lit("retry")))
          .groupBy(col("route")).agg(count(lit(1)).as("n"))
          .orderBy(col("route")),
      """SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) % 5 >= 3
        |         THEN 'fail' ELSE 'retry' END AS route, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY route""".stripMargin),

    // ── out-of-order audit (the watermark-sizing question): per user,
    //    arrival order = event_id; an event is late by (running max of
    //    earlier-arrived event times − its own time). The minute-bucket
    //    histogram + cumulative mass says exactly what watermark delay
    //    captures which share of events. user-partitioned running max;
    //    the only ordered window runs over ≤ 11 bucket rows ──
    "ev_out_of_order" -> QueryDef(
      (spark, dir) => {
        val byArrival = Window.partitionBy(col("user_id"))
          .orderBy(col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val l = Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"))
          .withColumn("runmax", max(col("ts_us")).over(byArrival))
          .withColumn("late_us",
            greatest(coalesce(col("runmax") - col("ts_us"), lit(0L)), lit(0L)))
          .select(least(expr("late_us DIV 60000000"), lit(10L))
            .cast("int").as("bucket"))
        val c = l.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        c.withColumn("cum_n",
          sum(col("n")).over(Window.orderBy(col("bucket"))))
          .orderBy(col("bucket"))
      },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |r AS (SELECT user_id, ts_us,
        |        max(ts_us) OVER (PARTITION BY user_id ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
        |      FROM e),
        |l AS (SELECT CAST(least(greatest(coalesce(runmax - ts_us, 0), 0)
        |        // 60000000, 10) AS INT) AS bucket FROM r),
        |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM l GROUP BY 1)
        |SELECT bucket, n, CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n
        |FROM c ORDER BY bucket""".stripMargin),

    // ── integer EWMA anomaly detection per user (α = 1/4, value cents):
    //    a sequential recurrence with a per-step floor, so NOT a window
    //    sum. Engine side: graft.ops.Ewma's STREAMING per-key fold
    //    (repartition + partition-local sort + mapPartitions, O(1) state
    //    per key run — a bot-grade user never materializes as one array
    //    row). Oracle side: the same fold over the identically-ordered
    //    per-user list with one packed-BIGINT accumulator (ewma·2^20 +
    //    anomaly count; cents ≤ 49k and events/user ≪ 2^20 at oracle
    //    scale, so the fields never collide) ──
    "ev_ewma_anomaly" -> QueryDef(
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("user_id"), col("ts_ns"), col("event_id"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        graft.ops.Ewma.ewmaAnomaly(ev, "user_id", "ts_ns", "event_id", "cents")
          .orderBy(col("user_id"))
      },
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) * 1048576 AS v
        |  FROM events),
        |g AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    list(v ORDER BY ts, event_id) AS vals
        |  FROM e GROUP BY user_id),
        |f AS (
        |  SELECT user_id, n_events,
        |    list_reduce(vals, (acc, x) ->
        |      ((3 * (acc // 1048576) + x // 1048576) // 4) * 1048576
        |      + acc % 1048576
        |      + CASE WHEN abs(x // 1048576 - acc // 1048576) > 5000
        |             THEN 1 ELSE 0 END) AS acc
        |  FROM g)
        |SELECT user_id, n_events, acc // 1048576 AS ewma_cents,
        |  acc % 1048576 AS n_anomalies
        |FROM f ORDER BY user_id""".stripMargin)
  )
}
