package graft.queries

import graft.{QuerySpec, Tables}
import graft.operators.AsOfJoin
import graft.pipeline.{Ingest, OrdersDomain}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced operators: the DataSource V2 REST scan, as-of join,
  * gap-based sessionization, and grouped quality — capabilities beyond
  * the reference's surface that a production engine at scale needs
  * (SURVEY.md §7.2 phases 4-6). */
object Advanced {

  /** The DSv2 posts source (partition-per-page) feeding the S2
    * synthesizer — the full "REST → orders" path through a real
    * `spark.read.format(...)` scan with limit pushdown. Oracle rebuilds
    * the deterministic pages from generate_series. */
  val q40RestSource: QuerySpec = QuerySpec(
    "q40_rest_source",
    """WITH posts AS (
      |  SELECT i AS id, (i - 1) // 10 + 1 AS userId,
      |    'post ' || i || ' about ' ||
      |    (['phone cases','computer parts','music apps','watch bands',
      |      'tablet stands','game reviews','book clubs','garden tools',
      |      'desk lamps'])[CAST((i - 1) % 9 AS INT) + 1] AS title
      |  FROM generate_series(1, 500) t(i))
      |SELECT
      |  printf('API-%04d', id) AS order_id,
      |  'Customer ' || userId AS customer_name,
      |  CASE WHEN contains(lower(title), 'phone') THEN 'iPhone 15'
      |       WHEN contains(lower(title), 'computer') THEN 'MacBook Pro'
      |       WHEN contains(lower(title), 'music') THEN 'AirPods Pro'
      |       WHEN contains(lower(title), 'watch') THEN 'Apple Watch'
      |       WHEN contains(lower(title), 'tablet') THEN 'iPad Air'
      |       WHEN contains(lower(title), 'game') THEN 'Nintendo Switch'
      |       WHEN contains(lower(title), 'book') THEN 'Kindle Paperwhite'
      |       ELSE (['iPhone 15','MacBook Pro','AirPods Pro','iPad Air','Apple Watch'])[
      |         CAST(CAST(('0x' || substr(md5(title), 1, 8)) AS BIGINT) % 5 AS INT) + 1]
      |  END AS product,
      |  floor((50.0 + (id % 20) * 25.99) * 100 + 0.5) / 100 AS price,
      |  id AS api_post_id
      |FROM posts
      |ORDER BY order_id""".stripMargin) { (s, _) =>
    val posts = s.read.format("graft.sources.PostsDataSource")
      .option("limit", "500").option("pageSize", "100").load()
    Ingest.postsToOrders(posts)
      .select("order_id", "customer_name", "product", "price", "api_post_id")
      .orderBy("order_id")
  }

  /** As-of join: each purchase event matched to the user's most recent
    * signup at-or-before it (union-tag single-shuffle pattern; oracle is
    * DuckDB's native ASOF LEFT JOIN). */
  val q41AsofJoin: QuerySpec = QuerySpec(
    "q41_asof_join",
    """SELECT p.event_id, p.user_id,
      |  s.event_id AS signup_event_id,
      |  round(s.value, 4) AS signup_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      |  ON p.user_id = s.user_id AND p.ts >= s.ts
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    AsOfJoin.asof(purchases, signups, key = "user_id",
      leftTime = "ts", rightTime = "ts",
      valueCols = Map("event_id" -> "signup_event_id", "value" -> "signup_value"),
      tiebreak = "event_id")
      .select(col("event_id"), col("user_id"), col("signup_event_id"),
        round(col("signup_value"), 4).as("signup_value"))
      .orderBy("event_id")
  }

  /** The gap-rule session-id CTE chain — ONE spelling shared by the q42
    * oracle and q117's path analysis (a gap-threshold tweak landing in
    * only one would let the path table disagree with the session stats
    * it claims to describe). `extraCols` carries per-event payload
    * columns through (q117 needs event_type). */
  private def sessionSqlCtes(extraCols: String = ""): String =
    s"""flagged AS (
      |  SELECT user_id, ts, event_id$extraCols,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |              OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts, event_id$extraCols,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)""".stripMargin

  /** Session-id assignment (the 30-minute gap rule) as a reusable frame:
    * lag → new-session flag → running sum, both windows per user. */
  def sessionIds(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("new_session",
        when(lag(col("ts"), 1).over(w).isNull ||
          col("ts") > lag(col("ts"), 1).over(w) + expr("INTERVAL 30 MINUTES"), 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(run).cast("long"))
  }

  /** The SAME gap sessions via Spark's native `session_window` grouping
    * expression — the built-in that replaces the two-window lag chain
    * with ONE hash aggregate (mergeable session state; also the form
    * that runs on a stream with update mode). Boundary note: the
    * built-in's session end is EXCLUSIVE (an event at exactly
    * prev_ts + gap starts a new session) where [[sessionIds]]' rule
    * (`ts > prev + gap`) keeps it — identical on any data without exact
    * gap-boundary timestamps; AdvancedSpec proves equality on the events
    * table and PropertySpec-style jitter keeps the corpora boundary-free
    * by construction. */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("duration_sec"))
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("duration_sec"))

  /** Gap-based sessionization (30-minute inactivity gap): lag → new-session
    * flag → running sum = session id; per-session stats. The batch twin of
    * Structured Streaming's session windows (SURVEY.md §2.8). */
  val q42Sessionize: QuerySpec = QuerySpec(
    "q42_sessionize",
    "WITH " + sessionSqlCtes() + """
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  count(*) AS n_events,
      |  min(ts) AS session_start,
      |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec
      |FROM sessions
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
    sessionIds(Tables.events(s, dir))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("duration_sec"))
      .orderBy("user_id", "session_id")
  }

  /** Per-source quality components in one grouped pass — what the
    * QualityAggregator enables; here as plain grouped aggregates so the
    * oracle can check it. */
  val q43QualityBySource: QuerySpec = QuerySpec(
    "q43_quality_by_source",
    "WITH " + OrdersDomain.OracleCte + ",\n" + OrdersDomain.DirtyOracleCte + "\n" +
      """SELECT source,
        |  count(*) AS n,
        |  floor(CAST(count(customer_name) + count(product) + count(quantity)
        |    + count(discount) AS DOUBLE) / (4 * count(*)) * 100 * 10000 + 0.5) / 10000 AS completeness,
        |  floor(avg(CASE WHEN price IS NOT NULL AND price > 0 THEN 1.0 ELSE 0.0 END) * 100 * 10000 + 0.5) / 10000 AS price_validity,
        |  floor(avg(CASE WHEN quantity IS NOT NULL AND quantity >= 1 AND quantity <= 100
        |    THEN 1.0 ELSE 0.0 END) * 100 * 10000 + 0.5) / 10000 AS quantity_accuracy
        |FROM dirty_domain
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, dir) =>
    // floor-based round4: these are ratios of small integers — the
    // tie-divergence class (Functions.round6 doc)
    import graft.functions.Functions.round4
    def frac(pred: org.apache.spark.sql.Column) =
      avg(when(pred, 1.0).otherwise(0.0))
    OrdersDomain.dirtyFromTpch(s, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n"),
        round4((count(col("customer_name")) + count(col("product"))
          + count(col("quantity")) + count(col("discount"))).cast("double")
          / (count(lit(1)) * 4) * 100).as("completeness"),
        round4(frac(col("price").isNotNull && col("price") > 0) * 100)
          .as("price_validity"),
        round4(frac(col("quantity").isNotNull && col("quantity") >= 1
          && col("quantity") <= 100) * 100).as("quantity_accuracy"))
      .orderBy("source")
  }

  /** View→click attribution: the batch twin of the watermarked
    * stream-stream interval join (`Streaming.attributionJoin`) —
    * StreamingSpec proves stream ≡ batch on this exact frame. */
  val q48EventAttribution: QuerySpec = QuerySpec(
    "q48_event_attribution",
    """SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
      |  c.event_id AS click_id, c.ts AS click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON v.user_id = c.user_id
      |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
      |ORDER BY v.user_id, view_id, click_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    graft.streaming.Streaming.attributionJoin(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "click"))
      .orderBy("user_id", "view_id", "click_id")
  }

  /** q41's as-of join with each side read through its own
    * `Tables.events` call (q41 filters one `events` frame twice). Both
    * run the union-tag [[AsOfJoin.asof]], the engine's only as-of form,
    * against the same DuckDB ASOF oracle; the name is kept because
    * benchmark workloads and recorded oracle hashes key on it. */
  val q54AsofSeparateScans: QuerySpec = QuerySpec(
    "q54_asof_join_native",
    """SELECT p.event_id, p.user_id,
      |  s.event_id AS signup_event_id,
      |  round(s.value, 4) AS signup_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      |  ON p.user_id = s.user_id AND p.ts >= s.ts
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val purchases = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = Tables.events(s, dir)
      .filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    AsOfJoin.asof(purchases, signups, key = "user_id",
      leftTime = "ts", rightTime = "ts",
      valueCols = Map("event_id" -> "signup_event_id", "value" -> "signup_value"),
      tiebreak = "event_id")
      .select(col("event_id"), col("user_id"), col("signup_event_id"),
        round(col("signup_value"), 4).as("signup_value"))
      .orderBy("event_id")
  }

  /** Sequential conversion funnel: per user, FIRST signup → later view →
    * later purchase. One grouped pass pivots each user's first event time
    * per stage (conditional min — no joins, no self-unions), then a 1-row
    * reduce counts stage survivors. The classic product-analytics op;
    * scales as a single hash aggregate on user_id. */
  val q58Funnel: QuerySpec = QuerySpec(
    "q58_event_funnel",
    """WITH per_user AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      |  FROM events GROUP BY user_id)
      |SELECT count(*) AS n_users,
      |  CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS signed_up,
      |  CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
      |    THEN 1 ELSE 0 END) AS BIGINT) AS viewed_after_signup,
      |  CAST(sum(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
      |    AND t_purchase > t_view THEN 1 ELSE 0 END) AS BIGINT) AS completed_funnel
      |FROM per_user""".stripMargin) { (s, dir) =>
    val perUser = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("t_signup").isNotNull, 1L).otherwise(0L)).as("signed_up"),
      sum(when(col("t_signup").isNotNull && col("t_view") > col("t_signup"),
        1L).otherwise(0L)).as("viewed_after_signup"),
      sum(when(col("t_signup").isNotNull && col("t_view") > col("t_signup")
        && col("t_purchase") > col("t_view"), 1L).otherwise(0L))
        .as("completed_funnel"))
  }

  final val AnomalyTrail = 100
  final val AnomalyMinTrail = 20L
  final val AnomalyThreshold = 3.0
  /** Two-day blocks: ~15 per event_type on the 30-day synthetic span —
    * dense enough at the bench SF that most preambles come from the
    * adjacent block, sparse enough at the spec SF that the multi-block
    * carry path is exercised. */
  final val AnomalyBlockSeconds = 172800L

  /** Rolling z-score anomaly detection with a CHUNKED trailing window —
    * the scale form of the textbook `PARTITION BY event_type` plan, whose
    * parallelism is capped by the handful of distinct event types (each
    * type's entire history sorts in ONE task — the canonical skew cliff
    * at 100×). Exact decomposition, valid because the frame is ROWS-based
    * (100 PRECEDING..1 PRECEDING over a unique (ts, event_id) order):
    *
    *   1. each event gets a time block `blk = floor(epoch / blockSeconds)`
    *      — scan-local, order-compatible with ts;
    *   2. per-(event_type, blk) row counts + a running total over the
    *      BLOCK METADATA (one tiny window over ≤ types × blocks rows)
    *      derive, for every (source, target) block pair, how many of the
    *      source's trailing rows the target needs so that each block is
    *      prefixed by EXACTLY the last min(100, available) rows before
    *      it — sparse blocks pull from several predecessors, so the
    *      carry is exact even when a block holds fewer than 100 rows;
    *   3. those preamble rows are replicated into their target block
    *      (flagged, never emitted) via a broadcast of the tiny mapping,
    *      and the trailing window runs per (event_type, blk) — every
    *      real row sees the same 100 predecessors in the same order as
    *      the global window, so results (and the DuckDB oracle, which
    *      keeps the textbook global-window SQL) are bit-identical.
    *
    * Parallelism becomes types × blocks instead of types; the preamble
    * duplication is ≤ 100 rows per block — O(blocks), not O(rows). No
    * collects: the block map stays a Catalyst frame end to end. The
    * streaming twin ([[graft.streaming.AnomalyState]]) remains the
    * unbounded-history form. Outputs round via
    * [[graft.functions.Functions.round4]] floor arithmetic in both
    * engines (trailing_mean is a ratio of 2-dp values — the decimal-tie
    * class where native round() diverges per engine). */
  def anomaliesChunked(events: DataFrame,
      blockSeconds: Long = AnomalyBlockSeconds): DataFrame = {
    val base = events
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
      .withColumn("blk",
        floor(unix_timestamp(col("ts")) / blockSeconds).cast("long"))
    val counts = base.groupBy("event_type", "blk").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("event_type").orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum(col("cnt")).over(wCum))
    val srcB = cum.select(col("event_type"), col("blk").as("src_blk"),
      col("cnt").as("src_cnt"), col("cum").as("src_cum"))
    val tgtB = cum.select(col("event_type"), col("blk").as("tgt_blk"),
      (col("cum") - col("cnt")).as("tgt_before"))
    // rows strictly between the source block's end and the target's start
    // = tgt_before - src_cum; the target still needs 100 - that many from
    // the source's tail. take_n <= 0 pairs are pruned, so dense corpora
    // keep only adjacent-block rows here.
    val mapping = srcB.join(tgtB, Seq("event_type"))
      .filter(col("src_blk") < col("tgt_blk"))
      .withColumn("needed",
        lit(AnomalyTrail.toLong) - (col("tgt_before") - col("src_cum")))
      .filter(col("needed") > 0)
      .select(col("event_type"), col("src_blk").as("blk"), col("tgt_blk"),
        least(col("src_cnt"), col("needed")).as("take_n"))
    val wRev = Window.partitionBy("event_type", "blk")
      .orderBy(col("ts").desc, col("event_id").desc)
    val pre = base.withColumn("rr", row_number().over(wRev))
      .join(broadcast(mapping), Seq("event_type", "blk"))
      .filter(col("rr") <= col("take_n"))
      .select(col("event_id"), col("event_type"), col("ts"), col("value"),
        col("tgt_blk").as("blk"), lit(true).as("is_pre"))
    val combined = base.withColumn("is_pre", lit(false)).unionByName(pre)
    val w = Window.partitionBy("event_type", "blk")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-AnomalyTrail, -1)
    val stats = combined.select(
      col("event_id"), col("event_type"), col("value"), col("is_pre"),
      avg(col("value")).over(w).as("mu"),
      stddev_samp(col("value")).over(w).as("sigma"),
      count(col("value")).over(w).as("n_trail"))
    val z = (col("value") - col("mu")) / col("sigma")
    stats
      .filter(!col("is_pre") && col("n_trail") >= AnomalyMinTrail
        && col("sigma") > 0 && abs(z) > AnomalyThreshold)
      .select(col("event_id"), col("event_type"), col("value"),
        graft.functions.Functions.round4(col("mu")).as("trailing_mean"),
        graft.functions.Functions.round4(z).as("zscore"))
  }

  /** q70: rolling z-score anomaly detection — each event's value against
    * the trailing-100 window of its event_type (mean/stddev over ROWS 100
    * PRECEDING..1 PRECEDING, the standard online-monitoring shape; the
    * current row is excluded so an outlier can't mask itself). Emits only
    * the anomalies (|z| > 3 with a warmup floor of 20 trailing events).
    * Executes via [[anomaliesChunked]]; the oracle keeps the textbook
    * single-window SQL, which doubles as the proof that the chunked
    * decomposition is exact. */
  val q70AnomalyZscore: QuerySpec = QuerySpec(
    "q70_anomaly_zscore",
    s"""WITH stats AS (
      |  SELECT event_id, event_type, ts, value,
      |    avg(value) OVER w AS mu,
      |    stddev_samp(value) OVER w AS sigma,
      |    count(value) OVER w AS n_trail
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING))
      |SELECT event_id, event_type, value,
      |  ${graft.functions.Functions.round4Sql("mu")} AS trailing_mean,
      |  ${graft.functions.Functions.round4Sql("(value - mu) / sigma")} AS zscore
      |FROM stats
      |WHERE n_trail >= 20 AND sigma > 0
      |  AND abs((value - mu) / sigma) > 3
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    anomaliesChunked(Tables.events(s, dir)).orderBy("event_id")
  }

  /** Daily retention cohorts — the product-analytics staple over the
    * events stream: users grouped by their FIRST-seen day, each cohort
    * tracked by how many members are active again N days later. All
    * integers and dates (a `CAST(ts AS DATE)` truncation and an exact
    * day difference — no float, no timezone arithmetic; the session
    * pins UTC).
    *
    * Scale shape: one (user → first day) aggregate and one distinct
    * (user, day) activity set — both shuffle on user_id, so with AQE
    * the cohort join is co-partitioned on the key it aggregates by; the
    * final (cohort, offset) aggregate is days²-cardinality metadata. No
    * window, no skew cliff (user_id is the high-cardinality key). */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), col("ts").cast("date").as("d"))
    val cohorts = days.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
    val active = days.distinct()
    active.join(cohorts, Seq("user_id"))
      .select(col("cohort_day"),
        expr("CAST(datediff(d, cohort_day) AS INT)").as("day_offset"))
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_active_users"))
  }

  /** q115: daily retention over the events table. */
  val q115RetentionCohorts: QuerySpec = QuerySpec(
    "q115_retention_cohorts",
    """WITH w AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |c AS (SELECT user_id, min(d) AS cohort_day FROM w GROUP BY user_id)
      |SELECT c.cohort_day AS cohort_day,
      |  CAST(datediff('day', c.cohort_day, w.d) AS INT) AS day_offset,
      |  count(*) AS n_active_users
      |FROM w JOIN c ON w.user_id = c.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_day, day_offset""".stripMargin) { (s, dir) =>
    retentionCohorts(Tables.events(s, dir))
      .orderBy("cohort_day", "day_offset")
  }

  final val PathLen = 3
  final val PathTopK = 15

  /** Top session paths — the "how do sessions start" companion to q42's
    * stats and q58's fixed funnel: each session reduces to its first
    * [[PathLen]] event types in time order, and paths rank by frequency.
    * Unlike the funnel (which checks ONE hypothesized order), the path
    * table DISCOVERS the orders users actually follow.
    *
    * Scale shape: the session windows are q42's exact frames (per-user,
    * high-cardinality key); the path reduction is one per-session
    * aggregate whose collect_list is bounded by session length, ordered
    * via array_sort on (ts, event_id, type) structs so reassembly is
    * deterministic under any partitioning (the q80 rule); the final
    * top-k is path-cardinality metadata planned as TakeOrdered. */
  def sessionPaths(events: DataFrame, pathLen: Int = PathLen,
      topK: Int = PathTopK): DataFrame = {
    import graft.functions.Functions.round4
    val paths = sessionIds(events)
      .groupBy("user_id", "session_id")
      .agg(concat_ws(">", slice(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))),
        x => x.getField("event_type")), 1, pathLen)).as("path"))
    val total = broadcast(paths.agg(count(lit(1)).as("n_total")))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .crossJoin(total)
      .select(col("path"), col("n_sessions"),
        round4(col("n_sessions").cast("double") / col("n_total"))
          .as("pct_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** q117: the top-15 3-step session openings. Oracle: the shared
    * session CTEs + ordered list slicing. */
  val q117SessionPaths: QuerySpec = QuerySpec(
    "q117_session_paths", {
      import graft.functions.Functions.round4Sql
      "WITH " + sessionSqlCtes(", event_type") + s""",
        |p AS (
        |  SELECT user_id, session_id,
        |    array_to_string(
        |      (list(event_type ORDER BY ts, event_id))[1:$PathLen], '>') AS path
        |  FROM sessions GROUP BY user_id, session_id),
        |t AS (SELECT count(*) AS n_total FROM p)
        |SELECT path, count(*) AS n_sessions,
        |  ${round4Sql("CAST(count(*) AS DOUBLE) / n_total")} AS pct_sessions
        |FROM p CROSS JOIN t
        |GROUP BY path, n_total
        |ORDER BY n_sessions DESC, path
        |LIMIT $PathTopK""".stripMargin
    }) { (s, dir) =>
    sessionPaths(Tables.events(s, dir))
  }

  /** q146: range (point-in-interval) join — open orders per day. Each
    * order opens a deterministic fulfillment window
    * `[orderdate, orderdate + (orderkey % 28 + 3) days]`; the query
    * counts open windows and their totalprice cents for every calendar
    * day in the pinned probe range. The naive spelling is an inequality
    * join Spark plans as BroadcastNestedLoopJoin
    * (|days| x |orders| comparisons); [[graft.operators.RangeJoin]]
    * rewrites it to a bucket-expansion EQUI-join (weekly buckets,
    * <= 6 bucket rows per window) that hashes, broadcasts, and
    * AQE-splits like any other join — the 100 TB shape.
    * AdvancedSpec pins naive == bucketed and the no-nested-loop plan. */
  val RangeProbeStart = "1995-01-01"
  val RangeProbeEnd = "2001-12-31"

  /** The order fulfillment windows (shared by the query and its spec). */
  def orderWindows(orders: DataFrame): DataFrame =
    orders.select(
      to_date(col("o_orderdate")).as("lo"),
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % 28 + 3).cast("int")).as("hi"),
      floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))

  /** The calendar-day probe frame for the pinned range. */
  def probeDays(s: SparkSession): DataFrame =
    s.range(1).select(explode(sequence(
      to_date(lit(RangeProbeStart)), to_date(lit(RangeProbeEnd)))).as("day"))

  val q146RangeJoinOpenOrders: QuerySpec = QuerySpec(
    "q146_range_join_open_orders",
    s"""WITH iv AS (
      |  SELECT CAST(o_orderdate AS DATE) AS lo,
      |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 28 + 3 AS INT) AS hi,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |days AS (
      |  SELECT unnest(generate_series(DATE '$RangeProbeStart',
      |    DATE '$RangeProbeEnd', INTERVAL 1 DAY))::DATE AS day)
      |SELECT d.day, count(*) AS n_open,
      |  CAST(sum(iv.cents) AS BIGINT) AS open_cents
      |FROM days d JOIN iv ON d.day >= iv.lo AND d.day <= iv.hi
      |GROUP BY d.day
      |ORDER BY d.day""".stripMargin) { (s, dir) =>
    graft.operators.RangeJoin.pointInIntervalDates(
      probeDays(s), orderWindows(Tables.orders(s, dir)),
      "day", "lo", "hi", bucketWidthDays = 7)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_open"), sum(col("cents")).as("open_cents"))
      .orderBy("day")
  }

  /** q147: interval-overlap join — promo attribution. A deterministic
    * synthetic promo calendar (2100 windows: 25 "slots" x 84 months,
    * start/length derived arithmetically from the promo id so both
    * engines generate identical dates) is overlap-joined against the
    * q146 order fulfillment windows: which orders were OPEN during each
    * promo? No equi-key exists between the sides — the naive spelling
    * is an inequality join (BroadcastNestedLoopJoin). [[graft.operators
    * .RangeJoin.intervalOverlap]] expands BOTH sides to weekly buckets
    * and emits each overlapping pair exactly once via the overlap-start
    * bucket rule — no distinct pass. AdvancedSpec pins bucketed ≡ naive
    * (incl. multiplicity) and the no-nested-loop plan. */
  def promoWindows(s: SparkSession): DataFrame =
    s.range(2100).select(
      col("id").as("promo_id"),
      date_add(
        add_months(to_date(lit("1995-01-01")), (col("id") % 84).cast("int")),
        ((col("id") * 13) % 17).cast("int")).as("plo"))
      .withColumn("phi",
        date_add(col("plo"), ((col("promo_id") * 7) % 12 + 4).cast("int")))

  val q147IntervalOverlapPromos: QuerySpec = QuerySpec(
    "q147_interval_overlap_promos",
    """WITH iv AS (
      |  SELECT CAST(o_orderdate AS DATE) AS lo,
      |    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 28 + 3 AS INT) AS hi,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |pw AS (
      |  SELECT CAST(i AS BIGINT) AS promo_id,
      |    CAST(DATE '1995-01-01' + (i % 84) * INTERVAL 1 MONTH
      |      + ((i * 13) % 17) * INTERVAL 1 DAY AS DATE) AS plo,
      |    CAST(DATE '1995-01-01' + (i % 84) * INTERVAL 1 MONTH
      |      + (((i * 13) % 17) + ((i * 7) % 12) + 4) * INTERVAL 1 DAY
      |      AS DATE) AS phi
      |  FROM generate_series(0, 2099) t(i))
      |SELECT pw.promo_id, count(*) AS n_overlap,
      |  CAST(sum(iv.cents) AS BIGINT) AS overlap_cents
      |FROM pw JOIN iv ON pw.plo <= iv.hi AND iv.lo <= pw.phi
      |GROUP BY pw.promo_id
      |ORDER BY pw.promo_id""".stripMargin) { (s, dir) =>
    graft.operators.RangeJoin.intervalOverlapDates(
      promoWindows(s), orderWindows(Tables.orders(s, dir)),
      "plo", "phi", "lo", "hi", bucketWidthDays = 7)
      .groupBy(col("promo_id"))
      .agg(count(lit(1)).as("n_overlap"), sum(col("cents")).as("overlap_cents"))
      .orderBy("promo_id")
  }

  /** q148: SCD2 dimension build — each order is a status "change" for
    * its customer; [[graft.operators.Scd2.fromChangeLog]] turns the log
    * into half-open validity intervals (one exchange + one sort + lead,
    * no self-join), and the query summarizes the dimension per status:
    * version count, open (current) versions, distinct customers, and
    * total closed-validity days. AdvancedSpec pins the SCD2 invariants
    * (chained intervals, exactly one current per key, no overlap). */
  def orderStatusChanges(orders: DataFrame): DataFrame =
    orders.select(
      col("o_custkey"),
      col("o_orderstatus"),
      to_date(col("o_orderdate")).as("change_date"),
      col("o_orderkey"))

  val q148Scd2StatusDim: QuerySpec = QuerySpec(
    "q148_scd2_status_dim",
    """WITH ch AS (
      |  SELECT o_custkey, o_orderstatus,
      |    CAST(o_orderdate AS DATE) AS change_date, o_orderkey
      |  FROM orders),
      |dim AS (
      |  SELECT o_custkey, o_orderstatus, change_date AS valid_from,
      |    lead(change_date) OVER (PARTITION BY o_custkey
      |      ORDER BY change_date, o_orderkey) AS valid_to
      |  FROM ch)
      |SELECT o_orderstatus AS status,
      |  CAST(count(*) AS BIGINT) AS n_versions,
      |  CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_current,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      |  CAST(sum(CASE WHEN valid_to IS NULL THEN 0
      |    ELSE datediff('day', valid_from, valid_to) END) AS BIGINT)
      |    AS closed_days
      |FROM dim GROUP BY o_orderstatus
      |ORDER BY status""".stripMargin) { (s, dir) =>
    graft.operators.Scd2.fromChangeLog(
      orderStatusChanges(Tables.orders(s, dir)),
      keys = Seq("o_custkey"), orderCol = "change_date",
      tieBreak = Seq("o_orderkey"))
      .groupBy(col("o_orderstatus").as("status"))
      .agg(
        count(lit(1)).as("n_versions"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"),
        countDistinct(col("o_custkey")).as("n_customers"),
        sum(when(col("is_current"), 0L)
          .otherwise(datediff(col("valid_to"), col("valid_from")).cast("long")))
          .as("closed_days"))
      .orderBy("status")
  }

  /** q149: gap-filled monthly series — order count + revenue cents per
    * nation per month over the pinned 1992-01..1998-12 axis, with
    * months no order touched present as explicit zeros (sparse
    * aggregates silently drop them, breaking moving windows and
    * period-over-period deltas downstream). [[graft.operators.GapFill]]
    * builds the dense frame from the key domain × a generated month
    * sequence — no second fact-table scan — and zero-fills through one
    * left join. */
  /** The q149 body, shared with q151's delta layer. */
  def gapFilledMonthly(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, dir),
        col("c_nationkey") === col("n_nationkey"))
    val sparse = o
      .groupBy(col("n_name"), trunc(to_date(col("o_orderdate")), "month").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
    val frame = graft.operators.GapFill.denseMonths(
      Tables.nation(s, dir).select("n_name"), "month",
      "1992-01-01", "1998-12-01")
    graft.operators.GapFill.fillGaps(frame, sparse,
      Seq("n_name"), "month", Seq("n_orders", "cents"))
  }

  val q149GapFilledMonthly: QuerySpec = QuerySpec(
    "q149_gap_filled_monthly",
    """WITH frame AS (
      |  SELECT n_name, CAST(unnest(generate_series(DATE '1992-01-01',
      |    DATE '1998-12-01', INTERVAL 1 MONTH)) AS DATE) AS month
      |  FROM nation),
      |sparse AS (
      |  SELECT n_name,
      |    CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
      |      AS month,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)
      |SELECT f.n_name, f.month,
      |  COALESCE(s.n_orders, 0) AS n_orders,
      |  COALESCE(s.cents, 0) AS cents
      |FROM frame f LEFT JOIN sparse s USING (n_name, month)
      |ORDER BY f.n_name, f.month""".stripMargin) { (s, dir) =>
    gapFilledMonthly(s, dir).orderBy("n_name", "month")
  }

  /** q150: unpivot (melt) — the wide per-nation measure row
    * (n_orders, cents, n_customers) becomes the long (n_name, metric,
    * value) form training-feature and charting consumers want. Uses
    * `Dataset.unpivot` (Spark's native melt: an Expand, no shuffle,
    * no UDF); the oracle spells it as UNION ALL. */
  val q150UnpivotNationMeasures: QuerySpec = QuerySpec(
    "q150_unpivot_nation_measures",
    """WITH wide AS (
      |  SELECT n_name,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS cents,
      |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name)
      |SELECT n_name, metric, value FROM (
      |  SELECT n_name, 'n_orders' AS metric, n_orders AS value FROM wide
      |  UNION ALL
      |  SELECT n_name, 'cents', cents FROM wide
      |  UNION ALL
      |  SELECT n_name, 'n_customers', n_customers FROM wide)
      |ORDER BY n_name, metric""".stripMargin) { (s, dir) =>
    val wide = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"),
        countDistinct(col("o_custkey")).as("n_customers"))
    wide.unpivot(
      Array(col("n_name")),
      Array(col("n_orders"), col("cents"), col("n_customers")),
      "metric", "value")
      .orderBy("n_name", "metric")
  }

  /** q151: month-over-month delta on the DENSE series — the consumer
    * q149's gap fill exists for. On the zero-filled axis `lag` sees
    * every month, so a quiet month shows the true crash-to-zero and the
    * restart month the true jump; on the sparse series both deltas
    * silently compare across the gap. Integer cents end to end. */
  val q151MonthOverMonthDelta: QuerySpec = QuerySpec(
    "q151_mom_delta",
    """WITH frame AS (
      |  SELECT n_name, CAST(unnest(generate_series(DATE '1992-01-01',
      |    DATE '1998-12-01', INTERVAL 1 MONTH)) AS DATE) AS month
      |  FROM nation),
      |sparse AS (
      |  SELECT n_name,
      |    CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
      |      AS month,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |dense AS (
      |  SELECT f.n_name, f.month, COALESCE(s.cents, 0) AS cents
      |  FROM frame f LEFT JOIN sparse s USING (n_name, month))
      |SELECT n_name, month, cents,
      |  cents - lag(cents) OVER (PARTITION BY n_name ORDER BY month)
      |    AS delta_cents
      |FROM dense ORDER BY n_name, month""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    gapFilledMonthly(s, dir)
      .select(col("n_name"), col("month"), col("cents"))
      .withColumn("delta_cents", col("cents") -
        lag(col("cents"), 1).over(
          Window.partitionBy("n_name").orderBy("month")))
      .orderBy("n_name", "month")
  }

  /** q152: distinct-set overlap via sketch algebra — repeat customers
    * across 1996/1997 per market segment. The exact per-year and
    * intersection counts anchor the oracle; the inclusion–exclusion
    * HLL estimate (`|A∩B| ≈ est(A) + est(B) − est(A∪B)` — sketches
    * UNION mergeably, intersection only via IE) is pinned inside a
    * deterministic envelope, the q141/q47 validation-harness contract.
    * At 100 TB the exact two-level distinct is the audit twin; the
    * sketches are one linear pass and merge across partitions/batches. */
  val q152SegmentOverlapHll: QuerySpec = QuerySpec(
    "q152_segment_overlap_hll",
    """WITH oc AS (
      |  SELECT c_mktsegment AS segment, o_custkey AS cust,
      |    EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS yr
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) IN (1996, 1997)),
      |pc AS (
      |  SELECT segment, cust,
      |    max(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS h96,
      |    max(CASE WHEN yr = 1997 THEN 1 ELSE 0 END) AS h97
      |  FROM oc GROUP BY segment, cust)
      |SELECT segment,
      |  CAST(sum(h96) AS BIGINT) AS n_1996,
      |  CAST(sum(h97) AS BIGINT) AS n_1997,
      |  CAST(sum(h96 * h97) AS BIGINT) AS n_both,
      |  TRUE AS ie_ok
      |FROM pc GROUP BY segment ORDER BY segment""".stripMargin) { (s, dir) =>
    val oc = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"), col("o_custkey").as("cust"),
        year(to_date(col("o_orderdate"))).as("yr"))
      .filter(col("yr").isin(1996, 1997))
    val perCust = oc.groupBy("segment", "cust")
      .agg(max(when(col("yr") === 1996, 1).otherwise(0)).as("h96"),
        max(when(col("yr") === 1997, 1).otherwise(0)).as("h97"))
    perCust.groupBy("segment")
      .agg(
        sum(col("h96")).cast("long").as("n_1996"),
        sum(col("h97")).cast("long").as("n_1997"),
        sum(col("h96") * col("h97")).cast("long").as("n_both"),
        hll_sketch_estimate(
          hll_sketch_agg(when(col("h96") === 1, col("cust")))).as("__e96"),
        hll_sketch_estimate(
          hll_sketch_agg(when(col("h97") === 1, col("cust")))).as("__e97"),
        hll_sketch_estimate(hll_sketch_agg(col("cust"))).as("__eu"))
      .select(col("segment"), col("n_1996"), col("n_1997"), col("n_both"),
        (abs(col("__e96") + col("__e97") - col("__eu") -
          col("n_both").cast("double")) <=
          greatest(col("n_both").cast("double") * 0.10, lit(10.0)))
          .as("ie_ok"))
      .orderBy("segment")
  }

  /** q153: two-proportion z-test (A/B significance audit) per market
    * segment — variant by customer-key parity, success = fulfilled
    * order. The flag is EXACT integer arithmetic (q140's discipline:
    * square the z-test, cross-multiply the pooled variance away — no
    * division, sqrt, or floats anywhere), so both engines compute the
    * identical boolean:
    * `D²·N·625 > 2401·n_a·n_b·S·(N−S)` with `D = x_a·n_b − x_b·n_a`,
    * `S = x_a+x_b`, `N = n_a+n_b` (z₀ = 1.96, z₀² = 2401/625).
    * DECIMAL(38,0) / HUGEINT keep the ~1e26 cross products exact. */
  val q153AbTestZ: QuerySpec = QuerySpec(
    "q153_ab_test_z",
    """WITH base AS (
      |  SELECT c_mktsegment AS segment, o_custkey % 2 AS variant,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS succ
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |agg AS (
      |  SELECT segment,
      |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN variant = 0 THEN succ ELSE 0 END) AS BIGINT) AS x_a,
      |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN variant = 1 THEN succ ELSE 0 END) AS BIGINT) AS x_b
      |  FROM base GROUP BY segment)
      |SELECT segment, n_a, x_a, n_b, x_b,
      |  (CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a)
      |    * (CAST(x_a AS HUGEINT) * n_b - CAST(x_b AS HUGEINT) * n_a)
      |    * (n_a + n_b) * 625
      |  > CAST(2401 AS HUGEINT) * n_a * n_b * (x_a + x_b)
      |    * ((n_a + n_b) - (x_a + x_b)) AS significant
      |FROM agg ORDER BY segment""".stripMargin) { (s, dir) =>
    val base = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        (col("o_custkey") % 2).as("variant"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("succ"))
    val agg = base.groupBy("segment")
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("succ")).otherwise(0L)).as("x_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("succ")).otherwise(0L)).as("x_b"))
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val d = d38(col("x_a")) * col("n_b") - d38(col("x_b")) * col("n_a")
    val s38 = d38(col("x_a") + col("x_b"))
    val n38 = d38(col("n_a") + col("n_b"))
    agg.select(col("segment"), col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      // counts are non-null by construction (sum of when/otherwise(0)),
      // so a NULL flag can only be DECIMAL(38,0) saturation (~1e26 cross
      // products at gate scale; the 38-digit reach ends near 1e12-row
      // arms) — raise instead of serving NULL-as-false
      orOverflowError(d * d * n38 * lit(625) >
        d38(lit(2401)) * col("n_a") * col("n_b") * s38 * (n38 - s38),
        "q153 significant").as("significant"))
      .orderBy("segment")
  }

  /** q154: order-independent table fingerprint — migration/replication
    * validation: per source, `n_rows` + the XOR of a 60-bit md5-derived
    * row digest. md5 hex is engine-identical and XOR is commutative, so
    * two engines (or two copies) agree iff the row multisets agree up
    * to XOR-cancelling duplicate pairs — with the row count alongside,
    * the practical drift detector. One linear scan, mergeable across
    * partitions and batches. */
  val q154TableFingerprint: QuerySpec = QuerySpec(
    "q154_table_fingerprint",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(bit_xor(CAST(('0x' || substr(
      |    md5(CAST(doc_id AS VARCHAR) || '|' || source || '|' || text),
      |    1, 15)) AS BIGINT)) AS BIGINT) AS xor_fp
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("source"),
        conv(substring(md5(concat_ws("|",
          col("doc_id").cast("string"), col("source"), col("text"))), 1, 15),
          16, 10).cast("long").as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(fp)").as("xor_fp"))
      .orderBy("source")
  }

  /** q157: sliding-window distinct users from MERGEABLE daily HLL
    * partials — the 100 TB answer to "distinct over every trailing
    * window": `count(distinct)` does not decompose over windows, so the
    * naive form re-scans the corpus once per window (and a 28-day
    * variant re-scans it again). The partial-merge plan aggregates the
    * corpus ONCE into one 4 KB Datasketches HLL per day (O(days)
    * metadata rows), then answers ANY trailing window by unioning ≤W
    * day-sketches per window start — window span changes are a
    * metadata-only re-merge, never a corpus re-scan. The exact
    * countDistinct over the ×W expanded day/user pairs is the gate-scale
    * AUDIT (the q141/q152 validation-harness contract); `est_ok` pins
    * the estimate inside max(5%, 5 users) of exact, and the oracle pins
    * the exact values plus the flag as literal TRUE. Window starts are
    * the pinned 2024-01 literal axis (the q149 dense-frame discipline);
    * trailing windows legitimately shrink — `n_days` records coverage. */
  val q157SlidingDistinctHll: QuerySpec = QuerySpec(
    "q157_sliding_distinct",
    """WITH days AS (
      |  SELECT CAST(unnest(generate_series(DATE '2024-01-01',
      |    DATE '2024-01-30', INTERVAL 1 DAY)) AS DATE) AS window_start),
      |du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u
      |  FROM events),
      |x AS (SELECT window_start, day, u FROM days JOIN du
      |  ON day >= window_start AND day <= window_start + INTERVAL 6 DAY)
      |SELECT window_start,
      |  CAST(count(DISTINCT day) AS BIGINT) AS n_days,
      |  CAST(count(DISTINCT u) AS BIGINT) AS exact_users,
      |  TRUE AS est_ok
      |FROM x GROUP BY window_start ORDER BY window_start""".stripMargin) {
    (s, dir) => slidingDistinctUsers(Tables.events(s, dir))
  }

  /** The trailing-window expansion shared by q157's exact and sketch
    * paths (a day-d row feeds window starts [d−6, d], clamped at the
    * pinned axis origin). */
  private val slidingWinExpr = expr(
    "explode(sequence(greatest(date_sub(day, 6), date'2024-01-01')," +
      " day, interval 1 day))")

  /** q157's maintained state: ONE 4 KB HLL per day — a COMPLETE-mode
    * streamable aggregation (register-max union is order-independent,
    * so stream arrival order cannot move the estimates; StreamingSpec
    * pins stream ≡ batch on every window). */
  def dailyUserSketches(events: DataFrame): DataFrame =
    events.select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))

  /** Any trailing window answered from the day partials alone —
    * metadata-only merge, never a corpus rescan. */
  def slidingEstimates(daily: DataFrame): DataFrame =
    daily.withColumn("window_start", slidingWinExpr)
      .groupBy("window_start")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("__est"))

  /** The q157 operator on any (ts, user_id) frame over the pinned
    * 2024-01 window axis. */
  def slidingDistinctUsers(events: DataFrame): DataFrame = {
    val du = events
      .select(to_date(col("ts")).as("day"), col("user_id").as("u"))
      .distinct()
    val exact = du.withColumn("window_start", slidingWinExpr)
      .groupBy("window_start")
      .agg(countDistinct(col("day")).as("n_days"),
        countDistinct(col("u")).as("exact_users"))
    val est = slidingEstimates(dailyUserSketches(events))
    exact.join(broadcast(est), "window_start")
      .select(col("window_start"), col("n_days"), col("exact_users"),
        (abs(col("__est").cast("double") -
            col("exact_users").cast("double")) <=
          greatest(col("exact_users").cast("double") * 0.05, lit(5.0)))
          .as("est_ok"))
      .orderBy("window_start")
  }

  /** The driftVsRollup overflow discipline for the exact-integer test
    * family (q153/q162): these expressions are built from NON-NULL
    * aggregates, so a NULL can only mean a saturated DECIMAL(38,0)
    * product, an overflowed LONG cast under non-ANSI mode, or an
    * integer `div` whose denominator aggregated to zero (e.g. a q185
    * slice whose micro-unit values sum to 0) — and a NULL verdict
    * silently reads as "not significant"/"not rising" downstream.
    * Surface it as a loud per-row failure naming both causes. */
  private def orOverflowError(value: Column, what: String): Column =
    when(value.isNotNull, value).otherwise(raise_error(lit(
      s"$what: NULL in exact integer arithmetic — either DECIMAL(38,0)/" +
        "LONG overflow (downscale units before multiplying, see Scaladoc " +
        "bound) or an integer div by a zero-sum denominator slice")))

  /** q162: per-group trend slope — "is this slice drifting up or
    * down?" as an EXACT least-squares line over the daily series: the
    * corpus folds once into ≤ groups×days partials (day index x =
    * days since the 2024-01-01 axis origin, y = the day's micro-unit
    * total), then the classic closed form stays ALL-INTEGER by
    * emitting numerator `n·Σxy − Σx·Σy` and denominator
    * `n·Σx² − (Σx)²` separately (slope = num/den, but the division
    * would be float — the SIGN and any cross-group comparison
    * `num_a·den_b vs num_b·den_a` work exactly on the pair). The
    * monotone-direction twin of q140's level-drift z-test: a steady
    * 1%/day decay never trips a level threshold until it's far gone,
    * but its slope sign is negative from day 2. DECIMAL(38,0) products
    * per the q153 discipline. */
  val q162TrendSlope: QuerySpec = QuerySpec(
    "q162_trend_slope",
    """WITH d AS (
      |  SELECT event_type,
      |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
      |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vy
      |  FROM events),
      |daily AS (
      |  SELECT event_type, x, CAST(sum(vy) AS BIGINT) AS y
      |  FROM d GROUP BY event_type, x),
      |agg AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      |  FROM daily GROUP BY event_type)
      |SELECT event_type, n_days,
      |  CAST(n_days * sxy - sx * sy AS BIGINT) AS slope_num,
      |  CAST(n_days * sxx - sx * sx AS BIGINT) AS slope_den,
      |  (n_days * sxy - sx * sy > 0) AS rising
      |FROM agg ORDER BY event_type""".stripMargin) { (s, dir) =>
    trendSlope(Tables.events(s, dir))
  }

  /** The q162 operator on any (event_type, ts, value) frame. */
  def trendSlope(events: DataFrame): DataFrame = {
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val daily = events.select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("x"),
        floor(col("value") * 1e6 + lit(0.5)).cast("long").as("vy"))
      .groupBy("event_type", "x")
      .agg(sum(col("vy")).as("y"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
        sum(d38(col("x")) * col("y")).as("sxy"),
        sum(d38(col("x")) * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        orOverflowError((col("n_days") * col("sxy") - col("sx") * col("sy"))
          .cast("long"), "q162 slope_num").as("slope_num"),
        orOverflowError((col("n_days") * col("sxx") - col("sx") * col("sx"))
          .cast("long"), "q162 slope_den").as("slope_den"),
        orOverflowError(col("n_days") * col("sxy") - col("sx") * col("sy") > 0,
          "q162 rising").as("rising"))
      .orderBy("event_type")
  }

  /** q165: out-of-order / watermark calibration probe — the number a
    * streaming deployment needs BEFORE picking `withWatermark`: per
    * user, in ARRIVAL order (event_id), how often does event time run
    * backwards, and by how much? `max_late_us` is the smallest
    * watermark that would have dropped nothing; `n_late / n_events` is
    * the disorder rate the state-store sizing assumes. One hash
    * exchange on user_id + one window (running max over PRIOR rows),
    * then a per-type aggregate; all-microsecond integers
    * (`unix_micros` / `epoch_us` agree exactly — never float seconds). */
  val q165OutOfOrder: QuerySpec = QuerySpec(
    "q165_out_of_order",
    """WITH o AS (
      |  SELECT event_type, user_id, event_id, epoch_us(ts) AS tus
      |  FROM events),
      |w AS (SELECT event_type, tus,
      |  max(tus) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM o)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN pm > tus THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_late,
      |  CAST(max(CASE WHEN pm > tus THEN pm - tus ELSE 0 END) AS BIGINT)
      |    AS max_late_us
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, dir) => outOfOrderProbe(Tables.events(s, dir))
  }

  /** The q165 operator on any (event_type, user_id, event_id, ts) frame. */
  def outOfOrderProbe(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    events.select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
      .withColumn("pm", max(col("tus")).over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("pm") > col("tus"), 1L).otherwise(0L)).as("n_late"),
        max(when(col("pm") > col("tus"), col("pm") - col("tus"))
          .otherwise(0L)).as("max_late_us"))
      .orderBy("event_type")
  }

  /** PageRank damping in percent and the ppm-scaled base score. */
  private val PrIters = 5
  private val PrBase = 150000L // 0.15 in ppm
  private val PrDampPct = 85L

  /** q170: PageRank over the part co-purchase graph — the iterative
    * influence metric next to q60/q79's connected components (membership)
    * and q120's power iteration (embedding spectrum): which parts anchor
    * the basket graph? FIXED-POINT INTEGER arithmetic end to end
    * (scores in ppm; per-node contribution `score div outdeg`, update
    * `0.15 + 0.85·Σ` as `150000 + (85·Σ) div 100`) — floor division is
    * deterministic in both engines where float damping would drift by
    * iteration 3.
    *
    * Scale shape (the co-partitioned iteration, not the broadcast one):
    * the ADJACENCY LIST is derived ONCE — one row per src carrying its
    * neighbor set and out-degree — hash-partitioned on `src` and
    * persisted (MEMORY_AND_DISK — the GraphX iteration discipline; a
    * persistent deployment keeps it as a bucketed table instead). Each
    * of the five iterations is then a SHUFFLE-HASH join of the O(nodes)
    * score frame against the O(nodes) cached adjacency rows (the per-src
    * contribution divides once per node, not once per edge), an explode
    * to per-edge contributions, and one map-side-combined sum by dst:
    * the edges never re-shuffle, the out-degree is never re-derived,
    * and — critically — the score frame is never broadcast or
    * collected, so no single JVM ever has to hold O(nodes) state (node
    * cardinality is corpus-proportional; a broadcast dies at a
    * billion-node graph). Scores flow shuffle-to-shuffle: the
    * groupBy(dst) output is already hash-partitioned on the next
    * round's join key.
    * Co-purchase edges are symmetric, so every edge-connected node keeps
    * an inbound sum (no dangling-mass term). Top 20 hubs published
    * (score desc, partkey tiebreak). */
  val q170PageRank: QuerySpec = QuerySpec(
    "q170_pagerank", {
      val iters = (1 to PrIters).map { i =>
        s"""s$i AS (
          |  SELECT e.dst AS node,
          |    $PrBase + ($PrDampPct * sum(s.score // d.outdeg)) // 100
          |      AS score
          |  FROM edges e
          |  JOIN s${i - 1} s ON e.src = s.node
          |  JOIN outdeg d ON e.src = d.node
          |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH op AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
        |  FROM lineitem),
        |edges AS (
        |  SELECT a.part AS src, b.part AS dst
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.part <> b.part
        |  GROUP BY 1, 2),
        |outdeg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
        |  FROM edges GROUP BY src),
        |s0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM outdeg),
        |$iters
        |SELECT node AS partkey, CAST(score AS BIGINT) AS score_ppm
        |FROM s$PrIters ORDER BY score DESC, partkey LIMIT 20""".stripMargin
    }) { (s, dir) =>
    // raw projection — the operator dedups on its own ok exchange (one
    // shuffle serves dedup + self-join; a caller-side distinct() would
    // re-grow the second exchange)
    pageRank(s, Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("part")))
  }

  /** The q170 operator on any (ok, part) co-membership frame: runs the
    * iteration plan eagerly (the result is ≤ 20 rows — driver metadata),
    * releases the cached edge frame, and returns the rows as a local
    * frame. Nothing is left behind: no temp directory, no pinned cache. */
  def pageRank(s: SparkSession, op: DataFrame): DataFrame = {
    val (result, edges) = pageRankPlan(s, op)
    try {
      val rows = result.collect() // limit(20) — bounded driver metadata
      s.createDataFrame(
        java.util.Arrays.asList(rows: _*), result.schema)
    } finally { edges.unpersist(); () }
  }

  /** The q170 iteration plan, returned LAZY together with the cached edge
    * frame so PlanQualitySpec can assert its physical shape (no broadcast
    * of the score side, edges served from the cache). Callers other than
    * the test go through [[pageRank]], which materializes and cleans up.
    *
    * Per-iteration join strategy: `hint("shuffle_hash")` on the score
    * side — the build side is one partition's worth of scores, never the
    * whole frame, so the iteration survives node cardinalities where a
    * broadcast (whole score frame on every executor AND the driver) would
    * OOM. The cached edge side already satisfies the join's clustering
    * requirement (hash-partitioned on `src` at persist time), so only the
    * metadata-light score side ever moves. */
  private[graft] def pageRankPlan(s: SparkSession,
      op: DataFrame): (DataFrame, DataFrame) = {
    // ONE exchange on ok serves BOTH the (ok, part) membership dedup and
    // the co-purchase self-join (round 14): hash(ok) satisfies the
    // dedup's clustered distribution (a subset partitioning colocates
    // equal pairs) and both join sides reuse the same exchange. The
    // previous caller-side distinct()-then-join shape shuffled the
    // membership frame twice (once on (ok, part), once on ok per side).
    // Dedup lives here, not in the caller, so the operator is correct
    // for any raw co-membership frame.
    val mem = op.repartition(col("ok")).dropDuplicates("ok", "part")
    val rawEdges = mem.as("a").join(mem.as("b"),
        col("a.ok") === col("b.ok") && col("a.part") =!= col("b.part"))
      .select(col("a.part").as("src"), col("b.part").as("dst"))
    // ADJACENCY-LIST edges (round 14, the GraphX/CSR discipline): ONE
    // cached row per src carrying the deduped neighbor set and its
    // out-degree, built by one src-keyed aggregate (collect_set dedups
    // the (src, dst) pairs; the set's nondeterministic order cannot move
    // a score — neighbor contributions are exact integer adds). Each
    // iteration then joins O(nodes) score rows against O(nodes) edge
    // rows and computes the per-src contribution `score div outdeg`
    // ONCE PER NODE before exploding to per-edge rows for the dst sum —
    // the previous per-edge form streamed every edge through the join
    // and divided once per edge. Hot-vertex caveat: a node's neighbor
    // array must fit a task — the same bound the previous per-src
    // out-degree window already imposed.
    // SCALE-ADAPTIVE iteration width (round 14, guide §2): the cached
    // adjacency side pins every round's score-exchange partitioning (AQE
    // cannot coalesce one side of a co-partitioned join when the other
    // side is a cache), so a session-wide shuffle width — sized for
    // corpus-scale scans — turns each tiny iteration stage into
    // conf-many near-empty tasks (measured at sf0.1: 3.9 s at the
    // session's 32 partitions, 2.1 s at 8, 5.4 s at 1 — the rounds are
    // stage-overhead-bound above the optimum and single-threaded below
    // it; also the 8-vs-32-core inversion in PERF_r13). Width targets
    // ~1 MB of membership-frame estimate per partition (×4 pair fan-out
    // headroom — these stages are CPU/scheduling-bound, not byte-bound),
    // clamped to the session width so corpus-scale graphs keep the
    // cluster's configured parallelism; an UNKNOWN estimate
    // (defaultSizeInBytes = Long.Max) falls back to the old behavior.
    val confParts = s.sessionState.conf.numShufflePartitions
    val opBytes = op.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = ((opBytes * 4) / (1L << 20))
      .max(1).min(confParts).toInt
    val edges = rawEdges
      .repartition(parts, col("src"))
      .groupBy(col("src"))
      .agg(collect_set(col("dst")).as("dsts"))
      .withColumn("outdeg", size(col("dsts")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count() // materialize once, before the iterations fan out
    // src is unique per adjacency row — s0 needs no distinct pass
    val s0 = edges.select(col("src").as("node"), lit(1000000L).as("score"))
    val sFinal = (1 to PrIters).foldLeft(s0) { (sc, _) =>
      edges
        .join(sc.hint("shuffle_hash"), col("src") === col("node"))
        .withColumn("contrib", expr("score div outdeg"))
        .select(explode(col("dsts")).as("dst"), col("contrib"))
        // explicit width: hash(dst, parts) feeds the aggregate (complete
        // mode — clustering already satisfied) AND the next round's join
        // against the parts-wide cache, so every round runs exactly one
        // data-sized exchange
        .repartition(parts, col("dst"))
        .groupBy(col("dst").as("node"))
        .agg((lit(PrBase) +
          expr(s"($PrDampPct * sum(contrib)) div 100")).as("score"))
    }
    (sFinal.select(col("node").as("partkey"), col("score").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("partkey")).limit(20), edges)
  }

  /** q171: time-weighted average (TWAP) per event type — the correct
    * mean for an IRREGULARLY sampled series, where the plain average
    * over-weights bursts (a metric polled 100× during an incident and
    * once overnight averages to the incident): each observation is
    * weighted by how long it was current (`lead(ts) − ts`, last
    * observation carries zero span by the half-open convention).
    * Exact integers end to end — micro-unit values × second spans into
    * DECIMAL(38,0) sums, floor-div ppm finish; one exchange + one lead
    * window + one aggregate. Ties broken by event_id so both engines
    * order identically. */
  val q171Twap: QuerySpec = QuerySpec(
    "q171_twap",
    """WITH o AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS tus,
      |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vmu
      |  FROM events),
      |w AS (SELECT event_type, vmu,
      |  (lead(tus) OVER (PARTITION BY event_type
      |    ORDER BY tus, event_id) - tus) // 1000000 AS dt
      |  FROM o)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(dt) AS BIGINT) AS span_s,
      |  CAST(sum(CAST(vmu AS HUGEINT) * dt) // sum(CAST(dt AS HUGEINT))
      |    AS BIGINT) AS twap_micro
      |FROM w WHERE dt IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    twap(Tables.events(s, dir))
  }

  /** The q171 operator on any (event_type, event_id, ts, value) frame. */
  def twap(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("tus", "event_id")
    events.select(col("event_type"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        floor(col("value") * 1e6 + lit(0.5)).cast("long").as("vmu"))
      .withColumn("dtus", lead(col("tus"), 1).over(w) - col("tus"))
      .withColumn("dt", expr("dtus div 1000000"))
      .filter(col("dt").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("dt")).as("span_s"),
        expr("CAST((sum(CAST(vmu AS DECIMAL(38,0)) * dt)) div " +
          "sum(CAST(dt AS DECIMAL(38,0))) AS LONG)").as("twap_micro"))
      .orderBy("event_type")
  }

  /** q172: Pareto frontier (skyline) — the non-dominated tradeoff set
    * over (price ↓ good, quantity ↑ good), i.e. every line for which no
    * other line is both cheaper-or-equal AND larger-or-equal with one
    * strict: the "best deals" query optimizers and procurement both
    * ask. ONE pass over the DISTINCT pair frame with two window frames
    * (running max quantity over STRICTLY cheaper prices via an
    * exclusive RANGE frame, and the per-price max) — never the naive
    * all-pairs self-join, which is quadratic and unrunnable at scale.
    * Integer cents; both engines share the frame semantics exactly. */
  val q172ParetoFrontier: QuerySpec = QuerySpec(
    "q172_pareto_frontier",
    """WITH pairs AS (
      |  SELECT DISTINCT
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
      |    CAST(l_quantity AS BIGINT) AS quantity
      |  FROM lineitem),
      |f AS (SELECT price_cents, quantity,
      |  max(quantity) OVER (ORDER BY price_cents
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxq_lt,
      |  max(quantity) OVER (PARTITION BY price_cents) AS maxq_eq
      |  FROM pairs)
      |SELECT price_cents, quantity
      |FROM f
      |WHERE (maxq_lt IS NULL OR maxq_lt < quantity) AND quantity = maxq_eq
      |ORDER BY price_cents""".stripMargin) { (s, dir) =>
    paretoFrontier(Tables.lineitem(s, dir).select(
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
        .as("price_cents"),
      col("l_quantity").cast("long").as("quantity")))
  }

  /** Width of the q172 price stripes (in cents): the DISTRIBUTION knob —
    * the distinct pair frame partitions into price stripes so the
    * dominance windows run per-stripe instead of single-task, and the
    * only single-partition work left is the stripe-level prefix maximum
    * over O(domain / width) metadata rows. $100 stripes put a
    * $0–$100k price domain at ~1000 stripes. Assumes non-negative
    * prices (integer `div` striping). */
  final val SkylineBucketCents = 10000L

  /** The q172 operator on any non-negative (price_cents, quantity)
    * frame — TWO-PHASE skyline: the naive form runs one unpartitioned
    * RANGE window over the distinct pair frame, which approaches corpus
    * cardinality for near-continuous prices and lands every pair in a
    * single task. Here:
    *
    *  - phase 1 (distributed): within each [[SkylineBucketCents]] price
    *    stripe, one sort serves two RANGE frames — the running max
    *    quantity over STRICTLY cheaper in-stripe prices
    *    (unbounded..−1) and the same-price peer max (0..0, replacing a
    *    separate partitionBy(price) pass);
    *  - phase 2 (metadata): per-stripe max quantities → a prefix max
    *    over the O(#stripes) stripe rows (every earlier stripe holds
    *    only strictly cheaper prices), broadcast back.
    *
    * `maxq_lt = greatest(in-stripe, earlier-stripe)` (greatest skips
    * NULLs; NULL iff globally cheapest) reproduces the unpartitioned
    * window's semantics exactly — AdvancedSpec differential-pins the
    * two forms and the oracle replays the one-window spelling. */
  def paretoFrontier(items: DataFrame,
      bucketWidth: Long = SkylineBucketCents): DataFrame = {
    val pairs = items.distinct()
      .withColumn("__bucket", expr(s"price_cents div $bucketWidth"))
    // ONE sort serves both in-stripe frames (strictly-cheaper running
    // max + same-price peer max); the stripe maxima come from a
    // map-side-combined groupBy branch (partials collapse to stripe
    // cardinality before the shuffle — cheaper than a third window
    // frame, which would re-sort the pair frame)
    val wLt = Window.partitionBy("__bucket").orderBy("price_cents")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy("__bucket").orderBy("price_cents")
      .rangeBetween(Window.currentRow, Window.currentRow)
    val local = pairs
      .withColumn("maxq_lt_local", max(col("quantity")).over(wLt))
      .withColumn("maxq_eq", max(col("quantity")).over(wEq))
    val wStripe = Window.orderBy("__bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = pairs.groupBy("__bucket")
      .agg(max(col("quantity")).as("__bq"))
      .withColumn("maxq_prev", max(col("__bq")).over(wStripe))
      .select(col("__bucket").as("__pb"), col("maxq_prev"))
    local.join(broadcast(prefix), col("__bucket") === col("__pb"))
      .withColumn("maxq_lt",
        greatest(col("maxq_lt_local"), col("maxq_prev")))
      .filter((col("maxq_lt").isNull || col("maxq_lt") < col("quantity")) &&
        col("quantity") === col("maxq_eq"))
      .select("price_cents", "quantity")
      .orderBy("price_cents")
  }

  /** q174: cross-table reconciliation audit — does the HEADER total
    * equal the sum of its LINES? The invariant every order-management
    * migration must check, as one shuffle join of the order header
    * against the per-order line aggregate (both sides keyed on
    * orderkey — co-partitioned, no broadcast needed at any scale) and
    * exact integer-cents deltas. Buckets: exact match, within 1%
    * (cross-multiplied — `100·|Δ| ≤ total`), beyond; `n_lineless`
    * counts headers with no lines at all (LEFT join, the referential
    * hole q52's anti-join would also surface). */
  val q174Reconciliation: QuerySpec = QuerySpec(
    "q174_reconciliation",
    """WITH l AS (
      |  SELECT l_orderkey AS ok,
      |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS line_cents
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |      AS total_cents, l.line_cents
      |  FROM orders o LEFT JOIN l ON o.o_orderkey = l.ok)
      |SELECT CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CASE WHEN line_cents IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_lineless,
      |  CAST(sum(CASE WHEN line_cents = total_cents THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_exact,
      |  CAST(sum(CASE WHEN line_cents IS NOT NULL
      |    AND 100 * abs(line_cents - total_cents) <= total_cents
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
      |  CAST(max(abs(line_cents - total_cents)) AS BIGINT)
      |    AS max_abs_delta_cents
      |FROM j""".stripMargin) { (s, dir) =>
    reconcile(Tables.orders(s, dir), Tables.lineitem(s, dir))
  }

  /** The q174 operator on any (orders, lineitem)-shaped pair. */
  def reconcile(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val l = lineitem
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sum(floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
        .as("line_cents"))
    orders
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("total_cents"))
      .join(l, col("o_orderkey") === col("ok"), "left")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("line_cents").isNull, 1L).otherwise(0L))
          .as("n_lineless"),
        sum(when(col("line_cents") === col("total_cents"), 1L)
          .otherwise(0L)).as("n_exact"),
        sum(when(col("line_cents").isNotNull &&
          lit(100) * abs(col("line_cents") - col("total_cents"))
            <= col("total_cents"), 1L).otherwise(0L)).as("n_within_1pct"),
        max(abs(col("line_cents") - col("total_cents")))
          .as("max_abs_delta_cents"))
  }

  /** q175: association rules over baskets — support / confidence /
    * lift for co-purchased part pairs, the market-basket classic, in
    * EXACT integer arithmetic: pair support from ONE self-join on the
    * order key (bounded by lines-per-order², never an all-parts
    * cartesian), `confidence_ppm = floor(1e6·n_ab / n_a)`, and the
    * lift>1 decision cross-multiplied (`n_ab·N > n_a·n_b`) so no
    * engine ever divides. Top 20 by support with full tiebreak. */
  val q175AssocRules: QuerySpec = QuerySpec(
    "q175_assoc_rules",
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
      |  FROM lineitem),
      |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM op),
      |pc AS (SELECT part, CAST(count(*) AS BIGINT) AS n_part
      |  FROM op GROUP BY part),
      |pairs AS (
      |  SELECT a.part AS ante, b.part AS cons,
      |    CAST(count(*) AS BIGINT) AS n_ab
      |  FROM op a JOIN op b ON a.ok = b.ok AND a.part <> b.part
      |  GROUP BY 1, 2)
      |SELECT ante, cons, n_ab,
      |  CAST(1000000 * n_ab // pa.n_part AS BIGINT) AS confidence_ppm,
      |  (CAST(n_ab AS HUGEINT) * n.n_orders
      |    > CAST(pa.n_part AS HUGEINT) * pb.n_part) AS lift_positive
      |FROM pairs
      |JOIN pc pa ON pairs.ante = pa.part
      |JOIN pc pb ON pairs.cons = pb.part
      |CROSS JOIN n
      |ORDER BY n_ab DESC, ante, cons LIMIT 20""".stripMargin) { (s, dir) =>
    // raw projection — the operator dedups on its own ok exchange (the
    // q170 pattern: one shuffle serves dedup + self-join; a caller-side
    // distinct() would re-grow the second exchange)
    assocRules(Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("part")))
  }

  /** The q175 operator on any raw (ok, part) basket frame (duplicate
    * membership rows are deduped internally). */
  def assocRules(op: DataFrame): DataFrame = {
    // ONE exchange on ok serves the membership dedup, BOTH self-join
    // sides, and the order count (round 14, the q170 edge-build pattern):
    // hash(ok) satisfies the (ok, part) dedup's clustered distribution
    // and the join's co-partitioning, so the previous distinct()-then-
    // join shape's second shuffle (by ok, per side) disappears.
    val mem = op.repartition(col("ok")).dropDuplicates("ok", "part")
    // 1-row metadata collect (the groupStats literalize class): folding
    // N in as a literal keeps the final pass a pure equi-join chain — a
    // 1-row crossJoin would plan as a (benign but guard-tripping)
    // nested-loop build
    val nOrders = mem.agg(countDistinct(col("ok"))).head().getLong(0)
    val pc = mem.groupBy("part").agg(count(lit(1)).as("n_part"))
    val pairs = mem.as("a").join(mem.as("b"),
        col("a.ok") === col("b.ok") && col("a.part") =!= col("b.part"))
      .groupBy(col("a.part").as("ante"), col("b.part").as("cons"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(pc.select(col("part"), col("n_part").as("n_a")),
        col("ante") === col("part")).drop("part")
      .join(pc.select(col("part"), col("n_part").as("n_b")),
        col("cons") === col("part")).drop("part")
      .select(col("ante"), col("cons"), col("n_ab"),
        expr("CAST((1000000 * n_ab) div n_a AS LONG)").as("confidence_ppm"),
        (col("n_ab").cast("decimal(38,0)") * lit(nOrders) >
          col("n_a").cast("decimal(38,0)") * col("n_b")).as("lift_positive"))
      .orderBy(col("n_ab").desc, col("ante"), col("cons")).limit(20)
  }

  /** q176: first-order Markov transition matrix of user behavior —
    * P(next event type | current), the model behind next-action
    * prediction, funnel leak hunting, and bot detection (a scripted
    * client's rows concentrate where a human's spread): ONE exchange on
    * user_id + one lead window pairs consecutive events, one aggregate
    * counts the (from, to) matrix (≤ types² metadata rows), and the row
    * totals ride a partition window over THAT matrix — the corpus is
    * never re-scanned. `prob_ppm` is the floor-div both engines share;
    * rows ordered (from, to) so the full matrix is the artifact. */
  val q176MarkovTransitions: QuerySpec = QuerySpec(
    "q176_markov_transitions",
    """WITH o AS (
      |  SELECT user_id, event_type, ts, event_id FROM events),
      |p AS (SELECT event_type AS from_type,
      |  lead(event_type) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS to_type
      |  FROM o),
      |m AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, to_type, n,
      |  CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from
      |  FROM m)
      |SELECT from_type, to_type, n, n_from,
      |  CAST(1000000 * n // n_from AS BIGINT) AS prob_ppm
      |FROM t ORDER BY from_type, to_type""".stripMargin) { (s, dir) =>
    markovTransitions(Tables.events(s, dir))
  }

  /** The q176 operator on any (user_id, event_type, ts, event_id) frame. */
  def markovTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wFrom = Window.partitionBy("from_type")
    events.select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n")).over(wFrom))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        expr("CAST((1000000 * n) div n_from AS LONG)").as("prob_ppm"))
      .orderBy("from_type", "to_type")
  }

  /** q180: top-k churn — which leaders ENTERED, EXITED, or STAYED
    * between two periods? The ranking-stability audit behind every
    * "top sellers" dashboard (a silently reshuffled top list is either
    * real drift or an upstream bug — q69's row-level diff can't say
    * which RANKS moved): per period, revenue ranks come from one
    * aggregate + one window over the (period, key) METADATA frame
    * (never a corpus sort), the two top-k lists full-outer join on the
    * key, and each row carries both ranks plus its churn status. Ties
    * broken by key so both engines rank identically. */
  val q180TopkChurn: QuerySpec = QuerySpec(
    "q180_topk_churn",
    """WITH base AS (
      |  SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT)
      |      AS yr, l_partkey AS part,
      |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE EXTRACT(year FROM CAST(o_orderdate AS DATE)) IN (1996, 1997)
      |  GROUP BY 1, 2),
      |r AS (SELECT yr, part, cents,
      |  CAST(row_number() OVER (PARTITION BY yr
      |    ORDER BY cents DESC, part) AS BIGINT) AS rk FROM base),
      |a AS (SELECT part, rk AS rank_1996, cents AS cents_1996
      |  FROM r WHERE yr = 1996 AND rk <= 20),
      |b AS (SELECT part, rk AS rank_1997, cents AS cents_1997
      |  FROM r WHERE yr = 1997 AND rk <= 20)
      |SELECT COALESCE(a.part, b.part) AS part, rank_1996, rank_1997,
      |  CASE WHEN a.part IS NULL THEN 'entered'
      |       WHEN b.part IS NULL THEN 'exited'
      |       ELSE 'stayed' END AS status
      |FROM a FULL OUTER JOIN b ON a.part = b.part
      |ORDER BY COALESCE(rank_1997, 99), COALESCE(rank_1996, 99),
      |  part""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // the two-year cut as a RAW timestamp range on orders BEFORE the
    // join: pushable to the parquet scan (row-group min/max pruning) and
    // it shrinks the join input — `year(...) IN (...)` post-join is
    // derived-column arithmetic no scan can use
    val ordersYr = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), year(to_date(col("o_orderdate"))).as("yr"))
    val base = Tables.lineitem(s, dir)
      .join(ordersYr, col("l_orderkey") === col("o_orderkey"))
      .select(col("yr"), col("l_partkey").as("part"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
          .as("c0"))
      .groupBy("yr", "part").agg(sum(col("c0")).as("cents"))
    val w = Window.partitionBy("yr")
      .orderBy(col("cents").desc, col("part"))
    // filter on the RAW row_number, cast after: a predicate on the cast
    // rank does not match InferWindowGroupLimit, so the per-partition
    // top-k early-stop would silently not plan
    val r = base.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 20)
      .withColumn("rk", col("__rk").cast("long"))
    // the two top-k lists align as a PIVOT over the ≤ 2k surviving rows
    // (max(when(yr=…))) instead of a full-outer self-join: a referenced-
    // twice frame re-derives the whole scan+join+agg+window pipeline per
    // branch — the oracle keeps the join spelling, results are identical
    r.groupBy("part")
      .agg(max(when(col("yr") === 1996, col("rk"))).as("rank_1996"),
        max(when(col("yr") === 1997, col("rk"))).as("rank_1997"))
      .select(col("part"), col("rank_1996"), col("rank_1997"),
        when(col("rank_1996").isNull, "entered")
          .when(col("rank_1997").isNull, "exited")
          .otherwise("stayed").as("status"))
      .orderBy(coalesce(col("rank_1997"), lit(99L)),
        coalesce(col("rank_1996"), lit(99L)), col("part"))
  }

  /** q185: day-of-week seasonality index per event type — the
    * multiplicative profile ("Sundays run at 0.7× the weekly mean")
    * behind capacity planning and the de-seasonalizing step every
    * day-over-day drift monitor needs (q140/q158 compare DISTRIBUTIONS;
    * a pure weekday/weekend rhythm would trip them forever). Index is
    * the exact integer rational `mean(dow) / mean(all)` in ppm —
    * `sum_dow·cnt_all·10⁶ div (cnt_dow·sum_all)`, DECIMAL(38,0)
    * products with the loud overflow guard.
    *
    * Scale shape: ONE map-side-combined aggregate folds the corpus to
    * the shared ≤ types×days [[dailyPartials]] state; the dow roll-up,
    * per-type totals, and index arithmetic all ride THAT metadata
    * (small side broadcast back). Day-of-week alignment: Spark's
    * `dayofweek` is 1=Sunday, DuckDB's is 0=Sunday — the Spark side
    * subtracts 1. */
  val q185DowSeasonality: QuerySpec = QuerySpec(
    "q185_dow_seasonality",
    """WITH c AS (
      |  SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow,
      |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vmu
      |  FROM events),
      |d AS (
      |  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(vmu) AS BIGINT) AS sum_mu
      |  FROM c GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, CAST(sum(n_events) AS BIGINT) AS cnt_all,
      |    CAST(sum(sum_mu) AS BIGINT) AS sum_all
      |  FROM d GROUP BY 1)
      |SELECT d.event_type AS event_type, dow, n_events,
      |  CAST(sum_mu * CAST(cnt_all AS HUGEINT) * 1000000
      |    // (CAST(n_events AS HUGEINT) * sum_all) AS BIGINT) AS idx_ppm
      |FROM d JOIN t ON d.event_type = t.event_type
      |ORDER BY d.event_type, dow""".stripMargin) { (s, dir) =>
    dowSeasonality(Tables.events(s, dir))
  }

  /** The shared daily-partials state behind the q185/q186/q187
    * monitoring trio — and their LIVE form: ONE map-side-combined
    * aggregate keyed by (event_type, day) holding the day's event count
    * and micro-unit value sum. The same expression runs on a batch
    * frame and as a COMPLETE-mode streaming aggregation (the
    * [[graft.queries.Profiling.distTestBins]] state-is-the-result
    * pattern: mergeable by sum, no watermark, state bounded by
    * types×days, NOT corpus size). [[dowFromDaily]] /
    * [[cusumFromDaily]] / [[ewmaFromDaily]] derive the full cards from
    * this state with metadata-only arithmetic, so a stream re-publishes
    * the whole monitoring trio after every micro-batch. */
  def dailyPartials(events: DataFrame): DataFrame =
    events.select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * 1e6 + lit(0.5)).cast("long").as("vmu"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_events"), sum(col("vmu")).as("sum_mu"))

  /** The q185 operator on any (event_type, ts, value) frame. */
  def dowSeasonality(events: DataFrame): DataFrame =
    dowFromDaily(dailyPartials(events))

  /** q185 from [[dailyPartials]] state alone (live-monitor form): the
    * dow roll-up sums the daily partials — counts of counts and sums of
    * sums are exact, so stream ≡ batch by construction. */
  def dowFromDaily(daily: DataFrame): DataFrame = {
    val d = daily
      .select(col("event_type"), (dayofweek(col("day")) - 1).as("dow"),
        col("n_events"), col("sum_mu"))
      .groupBy("event_type", "dow")
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_mu")).as("sum_mu"))
    val t = d.groupBy("event_type")
      .agg(sum(col("n_events")).as("cnt_all"),
        sum(col("sum_mu")).as("sum_all"))
    d.join(broadcast(t), "event_type")
      .select(col("event_type"), col("dow"), col("n_events"),
        orOverflowError(expr(
          "CAST(CAST(sum_mu AS DECIMAL(38,0)) * cnt_all * 1000000 div " +
            "(CAST(n_events AS DECIMAL(38,0)) * sum_all) AS LONG)"),
          "q185 idx_ppm").as("idx_ppm"))
      .orderBy("event_type", "dow")
  }

  /** q186: CUSUM change-point card per event type — WHERE did the level
    * break? q140's z-drift and q158's KS say "these two slices differ";
    * the mean-free cumulative sum localizes the break inside one
    * series: `C_k = n·cumsum_k − k·S` (the cross-multiplied form of
    * `Σ_{i≤k}(y_i − ȳ)`, so the classic statistic stays in exact
    * integers — no mean division), and the peak of |C_k| marks the most
    * likely change day. Published per type: the peak day, the peak
    * statistic, and the series-relative position in ppm; earliest-day
    * tiebreak so both engines pick identically.
    *
    * Scale shape: the corpus folds to ≤ types×days daily partials in
    * ONE map-side-combined aggregate; the windows (running sum, totals,
    * argmax rank) all ride that metadata frame. */
  val q186CusumChangepoint: QuerySpec = QuerySpec(
    "q186_cusum_changepoint",
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
      |      AS BIGINT) AS k,
      |    CAST(sum(y) OVER (PARTITION BY event_type ORDER BY day)
      |      AS BIGINT) AS cum,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |    CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS s
      |  FROM daily),
      |c AS (
      |  SELECT event_type, day, k, n,
      |    abs(CAST(n AS HUGEINT) * cum - CAST(k AS HUGEINT) * s) AS absc
      |  FROM w),
      |r AS (
      |  SELECT event_type, day, k, n, absc,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY absc DESC, day) AS rn
      |  FROM c)
      |SELECT event_type, n AS n_days, day AS peak_day,
      |  CAST(absc AS BIGINT) AS peak_cusum,
      |  CAST(k * 1000000 // n AS BIGINT) AS peak_pos_ppm
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin) { (s, dir) =>
    cusumChangepoint(Tables.events(s, dir))
  }

  /** The q186 operator on any (event_type, ts, value) frame. */
  def cusumChangepoint(events: DataFrame): DataFrame =
    cusumFromDaily(dailyPartials(events))

  /** q186 from [[dailyPartials]] state alone (live-monitor form): the
    * windows ride the ≤ types×days state frame directly. */
  def cusumFromDaily(dailyState: DataFrame): DataFrame = {
    val daily = dailyState
      .select(col("event_type"), col("day"), col("sum_mu").as("y"))
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val wTot = Window.partitionBy("event_type")
    val c = daily
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("cum", sum(col("y")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wTot))
      .withColumn("s", sum(col("y")).over(wTot))
      .withColumn("absc", abs(expr(
        "CAST(n AS DECIMAL(38,0)) * cum - CAST(k AS DECIMAL(38,0)) * s")))
    c.withColumn("rn",
        row_number().over(Window.partitionBy("event_type")
          .orderBy(col("absc").desc, col("day"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        col("day").as("peak_day"),
        orOverflowError(col("absc").cast("long"), "q186 peak_cusum")
          .as("peak_cusum"),
        expr("CAST(k * 1000000 div n AS LONG)").as("peak_pos_ppm"))
      .orderBy("event_type")
  }

  /** State bound for q187: the per-type daily series is collected into
    * one array (the types×days metadata-frame discipline), so the bound
    * is on SERIES LENGTH, not arithmetic magnitude — the per-step
    * integer recurrence `s_k = (s_{k−1} + y_k) div 2` never grows past
    * max(|y|), so there is no exactness cliff anymore (round 9 capped
    * this at 60 because the old `2^(n−1)` closed form saturated
    * DECIMAL(38,0); the recurrence removed that). 36 600 daily points ≈
    * a century of monitoring — past it, coarsen to weekly partials. */
  final val EwmaMaxDays = 36600

  /** q187: EWMA level card (α = 1/2) per event type — "is today's
    * reading noise or a move?" The smoothed level weights yesterday
    * half as much as today, so one outlier day cannot yank the
    * baseline the way q151's raw month-over-month delta can. EXACT
    * integer arithmetic end to end via the per-step recurrence
    * `s_1 = y_1; s_k = (s_{k−1} + y_k) div 2` folded left-to-right
    * over the ordered daily series — each step is one add and one
    * integer halving, so the running level NEVER grows past the data's
    * own magnitude (the round-9 closed form carried `2^(n−1)` weights
    * and saturated DECIMAL(38,0) at 61 days; by
    * `⌊(⌊a/b⌋+c)/d⌋ = ⌊(a+bc)/(bd)⌋` the recurrence computes the
    * identical value with no magnitude growth — pinned in
    * AdvancedSpec). The spike ratio `last/ewma` publishes in
    * cross-multiplied ppm. Completes the q185/q186 monitoring trio
    * (seasonality profile, break location, smoothed level).
    *
    * Scale shape: ONE map-side-combined aggregate folds the corpus to
    * ≤ types×days partials; `collect_list` then gathers ONE bounded
    * array per type (the q158-bins metadata discipline —
    * [[EwmaMaxDays]] ≈ a century of days, loud guard riding BOTH
    * served columns so column pruning cannot drop it) and the fold is
    * a single `aggregate()` higher-order expression over that array —
    * no per-row state, no driver collect. */
  val q187EwmaLevel: QuerySpec = QuerySpec(
    "q187_ewma_level",
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS y
      |  FROM events GROUP BY 1, 2),
      |ser AS (
      |  SELECT event_type, list(y ORDER BY day) AS ys
      |  FROM daily GROUP BY 1)
      |SELECT event_type,
      |  CAST(len(ys) AS BIGINT) AS n_days,
      |  ys[-1] AS last_micro,
      |  CAST(list_reduce(ys, (a, b) -> (a + b) // 2) AS BIGINT)
      |    AS ewma_micro,
      |  CAST(CAST(ys[-1] AS HUGEINT) * 1000000
      |    // list_reduce(ys, (a, b) -> (a + b) // 2) AS BIGINT)
      |    AS last_vs_ewma_ppm
      |FROM ser ORDER BY event_type""".stripMargin) { (s, dir) =>
    ewmaLevel(Tables.events(s, dir))
  }

  /** The q187 operator on any (event_type, ts, value) frame. */
  def ewmaLevel(events: DataFrame, maxDays: Int = EwmaMaxDays): DataFrame =
    ewmaFromDaily(dailyPartials(events), maxDays)

  /** q187 from [[dailyPartials]] state alone (live-monitor form). */
  def ewmaFromDaily(dailyState: DataFrame,
      maxDays: Int = EwmaMaxDays): DataFrame = {
    val daily = dailyState
      .select(col("event_type"), col("day"), col("sum_mu").as("y"))
    // one ordered array per type: ≤ types×days structs, sorted by day
    // (struct sort order is field order, day first)
    val ser = daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("y"))))
        .as("ser"))
    // the guard wraps EVERY served column (not just n_days): a caller
    // projecting only ewma_micro/last_vs_ewma_ppm must still trip it —
    // unused projections are pruned, so a guard riding one column
    // protects nothing for a query that drops that column
    def guarded(value: Column): Column =
      when(size(col("ser")) <= maxDays, value)
        .otherwise(raise_error(lit(
          s"q187: series exceeds $maxDays daily points — the per-type " +
            "collected daily array outgrows the metadata-frame bound; " +
            "coarsen to weekly partials (see EwmaMaxDays)")))
    val s = ser.select(col("event_type"),
      guarded(size(col("ser")).cast("long")).as("n_days"),
      guarded(element_at(col("ser"), -1).getField("y")).as("last_micro"),
      guarded(expr(
        "aggregate(slice(ser, 2, size(ser) - 1), element_at(ser, 1).y, " +
          "(acc, x) -> (acc + x.y) div 2)")).as("ewma_micro"))
    s.select(col("event_type"), col("n_days"), col("last_micro"),
        col("ewma_micro"),
        orOverflowError(expr(
          "CAST(CAST(last_micro AS DECIMAL(38,0)) * 1000000 " +
            "div ewma_micro AS LONG)"), "q187 last_vs_ewma_ppm")
          .as("last_vs_ewma_ppm"))
      .orderBy("event_type")
  }

  val all: Seq[QuerySpec] = Seq(
    q40RestSource, q41AsofJoin, q42Sessionize, q43QualityBySource,
    q48EventAttribution, q54AsofSeparateScans, q58Funnel, q70AnomalyZscore,
    q115RetentionCohorts, q117SessionPaths, q146RangeJoinOpenOrders,
    q147IntervalOverlapPromos, q148Scd2StatusDim, q149GapFilledMonthly,
    q150UnpivotNationMeasures, q151MonthOverMonthDelta,
    q152SegmentOverlapHll, q153AbTestZ, q154TableFingerprint,
    q157SlidingDistinctHll, q162TrendSlope, q165OutOfOrder, q170PageRank,
    q171Twap, q172ParetoFrontier, q174Reconciliation, q175AssocRules,
    q176MarkovTransitions, q180TopkChurn, q185DowSeasonality,
    q186CusumChangepoint, q187EwmaLevel)

}
