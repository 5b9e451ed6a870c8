package graft.queries

import graft.{QuerySpec, Tables}
import graft.pipeline.OrdersDomain
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Profiling / summary-statistics operators (SURVEY.md §2.4 A9-A15,
  * ref `validation.py:296-320` field analysis and
  * `storage.py:485-530` summary report).
  *
  * Each profile is ONE wide hash-aggregate pass producing a 1-row frame,
  * pivoted to long format with an `explode(array(struct(...)))` projection —
  * never one scan per column (the reference's `describe()`-style loop) and
  * never a driver-side collect of the base table.
  */
object Profiling {

  /** A9 field-analysis profile over orders: per column null count, distinct
    * count, numeric min/max/mean/std, string avg/max length. */
  val q15FieldProfile: QuerySpec = QuerySpec(
    "q15_field_profile",
    """SELECT * FROM (
      |  SELECT 'o_orderkey' AS column_name,
      |    CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
      |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
      |    round(min(o_orderkey), 4) AS min_v, round(max(o_orderkey), 4) AS max_v,
      |    floor(avg(o_orderkey) * 10000 + 0.5) / 10000 AS avg_v, round(stddev(o_orderkey), 4) AS std_v,
      |    CAST(NULL AS DOUBLE) AS avg_len, CAST(NULL AS BIGINT) AS max_len
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice',
      |    CAST(count(*) - count(o_totalprice) AS BIGINT),
      |    CAST(count(DISTINCT o_totalprice) AS BIGINT),
      |    round(min(o_totalprice), 4), round(max(o_totalprice), 4),
      |    floor(avg(o_totalprice) * 10000 + 0.5) / 10000, round(stddev(o_totalprice), 4),
      |    NULL, NULL
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus',
      |    CAST(count(*) - count(o_orderstatus) AS BIGINT),
      |    CAST(count(DISTINCT o_orderstatus) AS BIGINT),
      |    NULL, NULL, NULL, NULL,
      |    floor(avg(length(o_orderstatus)) * 10000 + 0.5) / 10000,
      |    CAST(max(length(o_orderstatus)) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority',
      |    CAST(count(*) - count(o_orderpriority) AS BIGINT),
      |    CAST(count(DISTINCT o_orderpriority) AS BIGINT),
      |    NULL, NULL, NULL, NULL,
      |    floor(avg(length(o_orderpriority)) * 10000 + 0.5) / 10000,
      |    CAST(max(length(o_orderpriority)) AS BIGINT)
      |  FROM orders)
      |ORDER BY column_name""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val numCols = Seq("o_orderkey", "o_totalprice")
    val strCols = Seq("o_orderstatus", "o_orderpriority")
    val aggs =
      numCols.flatMap(c => Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        round(min(col(c)).cast("double"), 4).as(s"${c}__min"),
        round(max(col(c)).cast("double"), 4).as(s"${c}__max"),
        graft.functions.Functions.round4(avg(col(c))).as(s"${c}__avg"),
        round(stddev_samp(col(c)), 4).as(s"${c}__std"))) ++
        strCols.flatMap(c => Seq(
          (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
          countDistinct(col(c)).as(s"${c}__distinct"),
          graft.functions.Functions.round4(avg(length(col(c)))).as(s"${c}__avg_len"),
          max(length(col(c))).cast("long").as(s"${c}__max_len")))
    val one = o.agg(aggs.head, aggs.tail: _*)
    val rows =
      numCols.map(c => struct(
        lit(c).as("column_name"), col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__distinct").as("n_distinct"), col(s"${c}__min").as("min_v"),
        col(s"${c}__max").as("max_v"), col(s"${c}__avg").as("avg_v"),
        col(s"${c}__std").as("std_v"),
        lit(null).cast("double").as("avg_len"), lit(null).cast("long").as("max_len"))) ++
        strCols.map(c => struct(
          lit(c).as("column_name"), col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__distinct").as("n_distinct"),
          lit(null).cast("double").as("min_v"), lit(null).cast("double").as("max_v"),
          lit(null).cast("double").as("avg_v"), lit(null).cast("double").as("std_v"),
          col(s"${c}__avg_len").as("avg_len"), col(s"${c}__max_len").as("max_len")))
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy("column_name")
  }

  /** A14 missing-values map over the dirty domain (`storage.py:490`). */
  val q16MissingMap: QuerySpec = QuerySpec(
    "q16_missing_map",
    "WITH " + OrdersDomain.OracleCte + ",\n" + OrdersDomain.DirtyOracleCte + "\n" +
      """SELECT * FROM (
        |  SELECT 'customer_name' AS column_name,
        |    CAST(count(*) - count(customer_name) AS BIGINT) AS n_missing FROM dirty_domain
        |  UNION ALL SELECT 'product', CAST(count(*) - count(product) AS BIGINT) FROM dirty_domain
        |  UNION ALL SELECT 'quantity', CAST(count(*) - count(quantity) AS BIGINT) FROM dirty_domain
        |  UNION ALL SELECT 'discount', CAST(count(*) - count(discount) AS BIGINT) FROM dirty_domain
        |  UNION ALL SELECT 'price', CAST(count(*) - count(price) AS BIGINT) FROM dirty_domain)
        |ORDER BY column_name""".stripMargin) { (s, dir) =>
    val d = OrdersDomain.dirtyFromTpch(s, dir)
    val cols = Seq("customer_name", "product", "quantity", "discount", "price")
    val one = d.agg(
      (count(lit(1)) - count(col(cols.head))).as(cols.head),
      cols.tail.map(c => (count(lit(1)) - count(col(c))).as(c)): _*)
    one.select(explode(array(cols.map(c =>
      struct(lit(c).as("column_name"), col(c).as("n_missing"))): _*)).as("p"))
      .select("p.*").orderBy("column_name")
  }

  /** A13 revenue summary (`storage.py:524-530`). */
  val q17RevenueSummary: QuerySpec = QuerySpec(
    "q17_revenue_summary",
    "WITH " + OrdersDomain.OracleCte + "\n" +
      s"""SELECT
        |  ${graft.functions.Functions.moneySumSql("total_amount")} AS total_revenue,
        |  floor(${graft.functions.Functions.moneySumSql("total_amount")}
        |    / count(total_amount) * 10000 + 0.5) / 10000 AS avg_order_value,
        |  floor(max(total_amount) * 100 + 0.5) / 100 AS max_order,
        |  floor(min(total_amount) * 100 + 0.5) / 100 AS min_order,
        |  count(*) AS n_orders
        |FROM orders_domain""".stripMargin) { (s, dir) =>
    // sum/avg via moneySum (exact integer-cents accumulation —
    // order-independent across engines); max/min are order-free already
    import graft.functions.Functions.{moneySum, round4}
    OrdersDomain.fromTpch(s, dir).agg(
      moneySum(col("total_amount")).as("total_revenue"),
      round4(moneySum(col("total_amount")) / count(col("total_amount")))
        .as("avg_order_value"),
      graft.functions.Functions.round2(max(col("total_amount"))).as("max_order"),
      graft.functions.Functions.round2(min(col("total_amount"))).as("min_order"),
      count(lit(1)).as("n_orders"))
  }

  /** A10 numeric summary with exact median (`storage.py:495-504`).
    * Exact `percentile` here (test scale); `percentile_approx` is the
    * 100 TB variant (SURVEY.md §7.4). */
  val q18NumericSummary: QuerySpec = QuerySpec(
    "q18_numeric_summary",
    """SELECT * FROM (
      |  SELECT 'l_quantity' AS column_name, count(l_quantity) AS n,
      |    floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS mean_v, round(stddev(l_quantity), 4) AS std_v,
      |    round(min(l_quantity), 4) AS min_v, round(max(l_quantity), 4) AS max_v,
      |    round(quantile_cont(l_quantity, 0.5), 4) AS median_v
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_extendedprice', count(l_extendedprice),
      |    floor(avg(l_extendedprice) * 10000 + 0.5) / 10000, round(stddev(l_extendedprice), 4),
      |    round(min(l_extendedprice), 4), round(max(l_extendedprice), 4),
      |    round(quantile_cont(l_extendedprice, 0.5), 4)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'l_discount', count(l_discount),
      |    floor(avg(l_discount) * 10000 + 0.5) / 10000, round(stddev(l_discount), 4),
      |    round(min(l_discount), 4), round(max(l_discount), 4),
      |    round(quantile_cont(l_discount, 0.5), 4)
      |  FROM lineitem)
      |ORDER BY column_name""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    // medians via the distributed rank selection (round 14): the built-in
    // exact `percentile` merges a buffer holding every distinct value in
    // ONE final task — the last single-task merge in a registered query
    // path. exactPercentilesUngrouped reproduces its interpolation
    // bit-for-bit from the two bracketing order statistics; round4
    // applies at assembly exactly where round(percentile(...), 4) did.
    val medWide = exactPercentilesUngrouped(li, cols, 0.5)
      .groupBy().agg(
        max(when(col("g") === cols.head, col("p_exact")))
          .as(s"${cols.head}__median"),
        cols.tail.map(c => max(when(col("g") === c, col("p_exact")))
          .as(s"${c}__median")): _*)
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"${c}__n"),
      graft.functions.Functions.round4(avg(col(c))).as(s"${c}__mean"),
      round(stddev_samp(col(c)), 4).as(s"${c}__std"),
      round(min(col(c)), 4).as(s"${c}__min"),
      round(max(col(c)), 4).as(s"${c}__max")))
    val one = li.agg(aggs.head, aggs.tail: _*).crossJoin(broadcast(medWide))
    one.select(explode(array(cols.map(c => struct(
      lit(c).as("column_name"), col(s"${c}__n").as("n"),
      col(s"${c}__mean").as("mean_v"), col(s"${c}__std").as("std_v"),
      col(s"${c}__min").as("min_v"), col(s"${c}__max").as("max_v"),
      round(col(s"${c}__median"), 4).as("median_v"))): _*)).as("p"))
      .select("p.*").orderBy("column_name")
  }

  /** A11/A12 top-10 product value counts over the canonical domain
    * (`storage.py:507-513`). */
  val q19TopProducts: QuerySpec = QuerySpec(
    "q19_top_products",
    "WITH " + OrdersDomain.OracleCte + "\n" +
      """SELECT product, count(*) AS n
        |FROM orders_domain
        |GROUP BY product
        |ORDER BY n DESC, product
        |LIMIT 10""".stripMargin) { (s, dir) =>
    OrdersDomain.fromTpch(s, dir)
      .groupBy("product").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("product"))
      .limit(10)
  }

  /** S14 db-stats probe with pinned as-of date (`storage.py:333-376`,
    * F6 today-filter `storage.py:354`). */
  val q20DbStats: QuerySpec = QuerySpec(
    "q20_db_stats",
    """SELECT
      |  (SELECT count(*) FROM orders) AS orders_count,
      |  (SELECT count(*) FROM lineitem) AS lineitem_count,
      |  (SELECT count(*) FROM orders
      |    WHERE CAST(o_orderdate AS DATE) = DATE '2001-07-11') AS asof_day_orders,
      |  (SELECT round(avg(o_totalprice), 4) FROM orders) AS avg_total_price""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val ordersCount = o.agg(
      count(lit(1)).as("orders_count"),
      sum(when(to_date(col("o_orderdate")) === lit("2001-07-11").cast("date"), 1L)
        .otherwise(0L)).as("asof_day_orders"),
      round(avg(col("o_totalprice")), 4).as("avg_total_price"))
    val liCount = li.agg(count(lit(1)).as("lineitem_count"))
    ordersCount.crossJoin(liCount)
      .select(col("orders_count"), col("lineitem_count"),
        col("asof_day_orders"), col("avg_total_price"))
  }

  /** The 100 TB variant of q15/q18 promised in SURVEY.md §7.4: sketch
    * aggregates — HLL++ `approx_count_distinct` (fixed-size state, no
    * Expand blow-up like exact `count(DISTINCT)`) and GK
    * `percentile_approx` (bounded memory vs exact percentile's full value
    * buffer in the final task). ONE wide agg, 1-row frame pivoted long.
    * This is the shape to ship at scale; [[approxValidationQuery]] wraps
    * it with exact anchors for the correctness gate. */
  def approxProfile(df: DataFrame, numCols: Seq[String],
      strCols: Seq[String] = Nil): DataFrame = {
    // BOTH quantiles from ONE GK sketch per column via the array form —
    // two scalar percentile_approx calls each build their own identical
    // sketch (the sketch state does not depend on the queried quantile,
    // so the values are bit-identical); measured 2x on the sketch pass
    // at sf0.1 (1.30 -> 0.69 s, OPTIMIZATION_r13.md)
    val aggs =
      (numCols ++ strCols).map(c =>
        approx_count_distinct(col(c), rsd = 0.02).as(s"${c}__nd")) ++
        numCols.map(c =>
          expr(s"percentile_approx($c, array(0.5, 0.99), 10000)")
            .as(s"${c}__ap"))
    val one = df.agg(aggs.head, aggs.tail: _*)
      .select(col("*") +: numCols.flatMap(c => Seq(
        round(element_at(col(s"${c}__ap"), 1).cast("double"), 4)
          .as(s"${c}__p50"),
        round(element_at(col(s"${c}__ap"), 2).cast("double"), 4)
          .as(s"${c}__p99"))): _*)
    val rows =
      numCols.map(c => struct(
        lit(c).as("column_name"), col(s"${c}__nd").as("approx_distinct"),
        col(s"${c}__p50").as("p50"), col(s"${c}__p99").as("p99"))) ++
        strCols.map(c => struct(
          lit(c).as("column_name"), col(s"${c}__nd").as("approx_distinct"),
          lit(null).cast("double").as("p50"), lit(null).cast("double").as("p99")))
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
      .orderBy("column_name")
  }

  /** Correctness-gate wrapper for [[approxProfile]]: sketch values are
    * engine-specific (DuckDB's HLL/quantile sketches differ bit-for-bit),
    * so the gate query emits what IS cross-engine deterministic — the
    * exact anchors plus BOOLEAN bound checks on the sketch values:
    *   - `nd_ok`: |HLL − exact| within max(5%, 2) of exact (HLL is
    *     deterministic for fixed data, so the bound either always holds or
    *     never does — no flake);
    *   - `p50_ok`/`p99_ok`: the GK guarantee, checked in RANK space (the
    *     returned value's rank interval [count(<v), count(≤v)] must cover
    *     the target rank within n/1000 + 1 slack) — value-space bounds
    *     would be distribution-dependent.
    * The DuckDB oracle computes the same exact anchors and literal TRUEs,
    * pinning every row at value level. Costs one extra exact pass over the
    * input — gate-scale only; production ships [[approxProfile]]. */
  private def approxValidationQuery(df: DataFrame, numCols: Seq[String],
      strCols: Seq[String] = Nil): DataFrame = {
    val allCols = numCols ++ strCols
    // one shared GK sketch per column (array form — see approxProfile)
    val approxAggs =
      allCols.map(c => approx_count_distinct(col(c), rsd = 0.02).as(s"${c}__and")) ++
        numCols.map(c =>
          expr(s"percentile_approx($c, array(0.5, 0.99), 10000)")
            .as(s"${c}__ap"))
    val approx = df.agg(approxAggs.head, approxAggs.tail: _*)
      .select(col("*") +: numCols.flatMap(c => Seq(
        element_at(col(s"${c}__ap"), 1).cast("double").as(s"${c}__ap50"),
        element_at(col(s"${c}__ap"), 2).cast("double").as(s"${c}__ap99"))): _*)
    // Exact-anchor pass (round 14): ONE value histogram instead of the
    // multi-countDistinct Expand — the old wide aggregate expanded every
    // row once per distinct column (×4 through the exchange; measured
    // 0.95 s of q47's 3.3 s at sf0.1). Exploding to (column, value) and
    // grouping by the value collapses MAP-SIDE to the distinct values,
    // and every exact anchor derives from the histogram: n = Σcnt,
    // exact_distinct = row count, and the GK rank checks are conditional
    // sums of cnt against the broadcast sketch thresholds. `vkey` is the
    // value's string form — exact for longs/strings, injective for
    // doubles by the shortest-round-trip representation (caveat: −0.0
    // and 0.0 would count as two where countDistinct normalized them;
    // the profiled columns are non-negative money/quantity/keys).
    // `vnum` (the double the old code's comparisons coerced to) rides
    // along for the threshold sums, constant within a vkey group.
    val pairs = numCols.map(c => struct(lit(c).as("g"),
        col(c).cast("string").as("vkey"),
        col(c).cast("double").as("vnum"))) ++
      strCols.map(c => struct(lit(c).as("g"),
        col(c).cast("string").as("vkey"),
        lit(null).cast("double").as("vnum")))
    val hist = df.select(explode(array(pairs: _*)).as("p")).select("p.*")
      .filter(col("vkey").isNotNull)
      .groupBy("g", "vkey")
      .agg(count(lit(1)).as("cnt"), max(col("vnum")).as("v"))
    // per-row threshold pick: the sketch row's column for THIS g
    def pick(suffix: String, over: Seq[String]): Column =
      over.tail.foldLeft(
        when(col("g") === over.head, col(s"${over.head}__$suffix"))) {
        (acc, c) => acc.when(col("g") === c, col(s"${c}__$suffix"))
      }
    val checks = hist.crossJoin(broadcast(approx))
      .groupBy("g")
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("nd"),
        sum(when(col("v") < pick("ap50", numCols), col("cnt"))
          .otherwise(0L)).as("lt50"),
        sum(when(col("v") <= pick("ap50", numCols), col("cnt"))
          .otherwise(0L)).as("le50"),
        sum(when(col("v") < pick("ap99", numCols), col("cnt"))
          .otherwise(0L)).as("lt99"),
        sum(when(col("v") <= pick("ap99", numCols), col("cnt"))
          .otherwise(0L)).as("le99"))
    // left join from the literal column list: a column with zero
    // non-null values still emits its row (n = 0, all-zero anchors),
    // exactly as the old wide aggregate did
    val spark = df.sparkSession
    import spark.implicits._
    val one = allCols.toDF("g").join(checks, Seq("g"), "left")
      .crossJoin(broadcast(approx))
      .select(col("*"),
        coalesce(col("n"), lit(0L)).as("__n"),
        coalesce(col("nd"), lit(0L)).as("__nd"),
        coalesce(col("lt50"), lit(0L)).as("__lt50"),
        coalesce(col("le50"), lit(0L)).as("__le50"),
        coalesce(col("lt99"), lit(0L)).as("__lt99"),
        coalesce(col("le99"), lit(0L)).as("__le99"))
    val ndOk: Column =
      abs(pick("and", allCols) - col("__nd")).cast("double") <=
        greatest(col("__nd").cast("double") * 0.05, lit(2.0))
    def rankOk(q: Double, lt: String, le: String): Column = {
      val n = col("__n").cast("double")
      val slack = n / 1000.0 + 1.0
      (col(lt).cast("double") - slack <= n * q) &&
        (n * q <= col(le).cast("double") + slack)
    }
    // p50_ok/p99_ok are NULL for string columns (no sketch percentiles)
    val isNum: Column =
      numCols.map(col("g") === _).reduce(_ || _)
    one.select(col("g").as("column_name"), col("__n").as("n"),
        col("__nd").as("exact_distinct"), ndOk.as("nd_ok"),
        when(isNum, rankOk(0.5, "__lt50", "__le50"))
          .otherwise(lit(null).cast("boolean")).as("p50_ok"),
        when(isNum, rankOk(0.99, "__lt99", "__le99"))
          .otherwise(lit(null).cast("boolean")).as("p99_ok"))
      .orderBy("column_name")
  }

  /** Oracle twin of [[approxValidationQuery]]: exact anchors + literal
    * TRUE/NULL for the bound columns. */
  private def approxOracleSql(table: String, numCols: Seq[String],
      strCols: Seq[String]): String = {
    val branches =
      (numCols.map((_, true)) ++ strCols.map((_, false))).map { case (c, isNum) =>
        val pcols =
          if (isNum) "TRUE AS p50_ok, TRUE AS p99_ok"
          else "CAST(NULL AS BOOLEAN) AS p50_ok, CAST(NULL AS BOOLEAN) AS p99_ok"
        s"SELECT '$c' AS column_name, count($c) AS n,\n" +
          s"    CAST(count(DISTINCT $c) AS BIGINT) AS exact_distinct,\n" +
          s"    TRUE AS nd_ok, $pcols FROM $table"
      }
    branches.mkString("SELECT * FROM (\n  ", "\n  UNION ALL ",
      ")\nORDER BY column_name")
  }

  val q47ApproxProfile: QuerySpec = QuerySpec(
    "q47_approx_profile",
    approxOracleSql("lineitem",
      Seq("l_quantity", "l_extendedprice", "l_discount"), Nil)) { (s, dir) =>
    approxValidationQuery(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount"))
  }

  /** Sketch profile of q15's orders columns — the declared scale twin of
    * the exact multi-`count(DISTINCT)` field profile (q15's Expand ×N
    * shape is test-scale-only; this is what runs at 100 TB). Same
    * validation-harness contract as q47. */
  val q59ApproxProfileOrders: QuerySpec = QuerySpec(
    "q59_approx_profile_orders",
    approxOracleSql("orders",
      Seq("o_orderkey", "o_totalprice"),
      Seq("o_orderstatus", "o_orderpriority"))) { (s, dir) =>
    approxValidationQuery(Tables.orders(s, dir),
      Seq("o_orderkey", "o_totalprice"),
      Seq("o_orderstatus", "o_orderpriority"))
  }

  /** A10 grouped: exact per-group percentiles (p50/p90/p99 of event value
    * by type) — one grouped aggregate, interpolated identically by Spark's
    * `percentile` and DuckDB's `quantile_cont`. The ungrouped q18 profile
    * and the sketch q47 are the single-pass and scale variants. */
  /** ONE spelling of the interpolating grouped-percentile oracle — shared
    * by q57 (built-in `percentile`) and q137 (the scalable rank-selection
    * twin): both engines must land on the same `quantile_cont` values,
    * which is exactly the drop-in-replacement claim q137 makes. */
  private val GroupedPercentilesOracleSql: String =
    """SELECT event_type,
      |  count(*) AS n,
      |  floor(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS p50,
      |  floor(quantile_cont(value, 0.9) * 10000 + 0.5) / 10000 AS p90,
      |  floor(quantile_cont(value, 0.99) * 10000 + 0.5) / 10000 AS p99
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  val q57GroupedPercentiles: QuerySpec = QuerySpec(
    "q57_grouped_percentiles",
    GroupedPercentilesOracleSql) { (s, dir) =>
    graft.Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        graft.functions.Functions.round4(expr("percentile(value, 0.5)")).as("p50"),
        graft.functions.Functions.round4(expr("percentile(value, 0.9)")).as("p90"),
        graft.functions.Functions.round4(expr("percentile(value, 0.99)")).as("p99"))
      .orderBy("event_type")
  }

  /** Key-skew probe — the shuffle-health diagnostic to run BEFORE keying
    * a 100 TB join or groupBy on a column: per-key row counts folded into
    * a log2 count-of-counts histogram (bucket = floor(log2(rows per
    * key)), via the binary-representation length — pure integer, so the
    * oracle pins values). A healthy key space concentrates in low
    * buckets; a hot key shows up as mass in a high bucket, which is the
    * signal to salt ([[graft.pipeline.Enrich]]'s helper) or let AQE split
    * it. Bucketing rather than exact per-key quantiles keeps the output
    * BOUNDED (≤64 rows) at any cardinality — the same sketch-over-exact
    * trade as q47, except log2 bucketing is lossless for the decision
    * being made.
    *
    * Scale shape: one (key) hash aggregate with map-side partials, one
    * ≤64-row re-aggregate, one 1-row broadcast for the shares. */
  def keySkewHistogram(df: org.apache.spark.sql.DataFrame,
      keyCol: String): org.apache.spark.sql.DataFrame = {
    val counts = df.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("c"))
    val hist = counts
      .groupBy((length(bin(col("c"))) - 1).cast("int").as("log2_bucket"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_key_rows"))
    val total = counts.agg(sum(col("c")).as("total_rows"))
    hist.crossJoin(broadcast(total))
      .select(col("log2_bucket"), col("n_keys"), col("n_rows"),
        col("max_key_rows"),
        floor(col("n_rows").cast("double") / col("total_rows") * 1e6 + 0.5)
          .cast("long").as("rows_share_micro"))
      .orderBy("log2_bucket")
  }

  /** q127: skew histogram of events.user_id (the natural session key). */
  val q127KeySkew: QuerySpec = QuerySpec(
    "q127_key_skew",
    """WITH c AS (
      |  SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY user_id),
      |h AS (
      |  SELECT CAST(length(bin(c)) - 1 AS INT) AS log2_bucket,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(c) AS BIGINT) AS n_rows,
      |    CAST(max(c) AS BIGINT) AS max_key_rows
      |  FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(c) AS BIGINT) AS total_rows FROM c)
      |SELECT log2_bucket, n_keys, n_rows, max_key_rows,
      |  CAST(floor(CAST(n_rows AS DOUBLE) / total_rows * 1e6 + 0.5) AS BIGINT) AS rows_share_micro
      |FROM h CROSS JOIN t
      |ORDER BY log2_bucket""".stripMargin) { (s, dir) =>
    keySkewHistogram(graft.Tables.events(s, dir), "user_id")
  }

  /** The lineitem numeric columns entering the q132 correlation matrix,
    * each with its exact integer encoding (cents — the data is 2dp). */
  private val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Pairwise Pearson correlations over the lineitem measures — the
    * multi-column profile a feature audit reads (is discount coupled to
    * price?), computed EXACTLY in one distributed pass: each column is
    * quantized to integer cents scan-locally, all sums (Σx, Σx², Σxy)
    * accumulate in DECIMAL(38,0) — exact at any corpus size, where a
    * BIGINT Σx² overflows near 10^19 and a double sum is
    * partition-order-dependent — and the correlation is then one
    * deterministic double expression over those exact sums (both engines
    * round the same exact integer to the same double). No sampling, one
    * scan, one 1-row aggregate; the 6 output pairs unfold from that row
    * with a literal explode, not a re-scan. */
  def correlationMatrix(lineitem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cents = CorrCols.map(c =>
      floor(col(c) * 100 + lit(0.5)).cast("decimal(38,0)").as(s"e_$c"))
    val enc = lineitem.select(cents: _*)
    val sums =
      Seq(count(lit(1)).cast("decimal(38,0)").as("n")) ++
        CorrCols.map(c => sum(col(s"e_$c")).as(s"s_$c")) ++
        CorrCols.map(c => sum(col(s"e_$c") * col(s"e_$c")).as(s"ss_$c")) ++
        CorrCols.combinations(2).map { case Seq(a, b) =>
          sum(col(s"e_$a") * col(s"e_$b")).as(s"sp_${a}_$b")
        }.toSeq
    val agg = enc.agg(sums.head, sums.tail: _*)
    val pairRows = CorrCols.combinations(2).map { case Seq(a, b) =>
      val n = col("n").cast("double")
      def d(c: Column) = c.cast("double")
      val num = n * d(col(s"sp_${a}_$b")) - d(col(s"s_$a")) * d(col(s"s_$b"))
      val denA = n * d(col(s"ss_$a")) - d(col(s"s_$a")) * d(col(s"s_$a"))
      val denB = n * d(col(s"ss_$b")) - d(col(s"s_$b")) * d(col(s"s_$b"))
      struct(lit(a).as("x_col"), lit(b).as("y_col"),
        graft.functions.Functions.round6(num / (sqrt(denA) * sqrt(denB)))
          .as("pearson_r"))
    }.toSeq
    agg.select(explode(array(pairRows: _*)).as("p"))
      .select(col("p.x_col").as("x_col"), col("p.y_col").as("y_col"),
        col("p.pearson_r").as("pearson_r"))
      .orderBy("x_col", "y_col")
  }

  /** q132: the exact correlation matrix, pinned against DuckDB's replay
    * of the identical decimal-sum + double-formula arithmetic. */
  val q132CorrMatrix: QuerySpec = QuerySpec(
    "q132_corr_matrix", {
      val enc = CorrCols
        .map(c => s"CAST(floor($c * 100 + 0.5) AS HUGEINT) AS e_$c")
        .mkString(",\n    ")
      val sums =
        Seq("CAST(count(*) AS HUGEINT) AS n") ++
          CorrCols.map(c => s"sum(e_$c) AS s_$c") ++
          CorrCols.map(c => s"sum(e_$c * e_$c) AS ss_$c") ++
          CorrCols.combinations(2).map { case Seq(a, b) =>
            s"sum(e_$a * e_$b) AS sp_${a}_$b"
          }.toSeq
      val pairs = CorrCols.combinations(2).map { case Seq(a, b) =>
        val num = s"CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)"
        val dA = s"CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)"
        val dB = s"CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE) - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)"
        s"SELECT '$a' AS x_col, '$b' AS y_col,\n" +
          s"  ${graft.functions.Functions.round6Sql(s"($num) / (sqrt($dA) * sqrt($dB))")} AS pearson_r FROM s"
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (
        |  SELECT
        |    $enc
        |  FROM lineitem),
        |s AS (
        |  SELECT
        |    ${sums.mkString(",\n    ")}
        |  FROM e)
        |$pairs
        |ORDER BY x_col, y_col""".stripMargin
    }) { (s, dir) =>
    correlationMatrix(Tables.lineitem(s, dir))
  }

  /** χ² independence audit — is document language independent of source?
    * (A source whose language mix diverges from the corpus is a routing
    * or crawl anomaly; the χ² statistic is the standard test.) Observed
    * counts are exact integers; expected = row·col/total is one double
    * ratio of exact ints; each cell's (o−e)²/e contribution is quantized
    * to micro-units so the total (their BIGINT sum) is exact — the q76
    * trick applied to a test statistic. Cells carry their own
    * contributions, so the output doubles as the "which cell drove it"
    * drill-down.
    *
    * Scale shape: one (lang, source) hash aggregate over the corpus;
    * everything after operates on ≤ langs×sources rows (two re-aggregates
    * + broadcast joins of those tiny frames). */
  def chiSquareIndependence(docs: org.apache.spark.sql.DataFrame,
      rowCol: String = "lang", colCol: String = "source"): org.apache.spark.sql.DataFrame = {
    val o = docs.groupBy(rowCol, colCol).agg(count(lit(1)).as("o"))
    val rt = o.groupBy(rowCol).agg(sum(col("o")).as("row_tot"))
    val ct = o.groupBy(colCol).agg(sum(col("o")).as("col_tot"))
    val tot = o.agg(sum(col("o")).as("total"))
    val e = col("row_tot").cast("double") * col("col_tot") / col("total")
    o.join(broadcast(rt), rowCol)
      .join(broadcast(ct), colCol)
      .crossJoin(broadcast(tot))
      .select(col(rowCol), col(colCol), col("o"),
        graft.functions.Functions.round6(e).as("expected"),
        floor((col("o") - e) * (col("o") - e) / e * 1e6 + 0.5)
          .cast("long").as("chi2_micro"))
      .orderBy(rowCol, colCol)
  }

  /** q133: the per-cell χ² table for documents lang × source. */
  val q133ChiSquare: QuerySpec = QuerySpec(
    "q133_chi_square",
    s"""WITH o AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      |  FROM documents GROUP BY lang, source),
      |rt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS row_tot FROM o GROUP BY lang),
      |ct AS (SELECT source, CAST(sum(o) AS BIGINT) AS col_tot FROM o GROUP BY source),
      |t AS (SELECT CAST(sum(o) AS BIGINT) AS total FROM o)
      |SELECT o.lang, o.source, o,
      |  ${graft.functions.Functions.round6Sql("CAST(row_tot AS DOUBLE) * col_tot / total")} AS expected,
      |  CAST(floor((o - CAST(row_tot AS DOUBLE) * col_tot / total)
      |    * (o - CAST(row_tot AS DOUBLE) * col_tot / total)
      |    / (CAST(row_tot AS DOUBLE) * col_tot / total) * 1e6 + 0.5) AS BIGINT) AS chi2_micro
      |FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN t
      |ORDER BY lang, source""".stripMargin) { (s, dir) =>
    chiSquareIndependence(graft.Tables.documents(s, dir))
  }

  final val MedianBuckets = 1024

  /** Rows a single pass-2 rank task may hold before the selection
    * re-histograms the target bucket (one recursion level, another
    * `buckets`× cut). ~4M rows per task is comfortably in executor
    * memory; the spec fixture drops it to 0 to force the recursive path
    * and prove the selected rank unchanged. */
  final val BigBucketRows = 4L * 1000 * 1000

  import graft.functions.Frames.{frameOf, literalize}

  /** Per-group total weight `n`, min/max and double bucket width `w`,
    * collected and re-emitted as a literal frame (≤ groups rows of
    * metadata) so later passes broadcast values instead of recomputing
    * the aggregate subtree. `greatest(…, MIN_NORMAL)` keeps `w` positive
    * when a group holds a single distinct value (bucket 0 for every row). */
  private def groupStats(vals: DataFrame, buckets: Int): DataFrame =
    literalize(
      vals.groupBy("g").agg(sum(col("wt")).as("n"),
          min(col("v")).as("vmin"), max(col("v")).as("vmax"))
        .withColumn("w", greatest(
          (col("vmax").cast("double") - col("vmin").cast("double")) /
            lit(buckets.toDouble),
          lit(java.lang.Double.MIN_NORMAL))))

  /** Unweighted order statistics of a (g, v) frame at rank
    * ceil(num·n/den): [[weightedQuantileSelect]] with wt = 1. */
  private[graft] def bucketedQuantileSelect(vals: DataFrame,
      quantiles: Seq[(String, Long, Long)], buckets: Int,
      bigBucket: Long): DataFrame =
    weightedQuantileSelect(vals.withColumn("wt", lit(1L)), quantiles,
        buckets, bigBucket)
      .withColumnRenamed("wtot", "n")

  /** Weighted order statistics of a (g, v, wt) frame: per (group,
    * quantile) the smallest v whose cumulative weight reaches rank
    * ceil(num·W/den) of the group's total weight W (exact integer
    * arithmetic), resolved by [[selectAtRanks]]. */
  private[graft] def weightedQuantileSelect(vals: DataFrame,
      quantiles: Seq[(String, Long, Long)], buckets: Int,
      bigBucket: Long): DataFrame = {
    val spark = vals.sparkSession
    import spark.implicits._
    val stats = groupStats(vals, buckets)
    val ranks = stats.crossJoin(quantiles.toDF("q", "num", "den"))
      .select(col("g"), col("q"), col("n"),
        expr("(num * n + den - 1L) div den").as("k"))
    selectAtRanks(vals, stats, ranks, buckets, bigBucket)
      .withColumnRenamed("n", "wtot")
  }

  /** THE rank-selection engine: EXACT (weighted) order statistics without
    * a global sort, by two-level (plus one recursion level) bucketed rank
    * selection. Every exact quantile in graft resolves here —
    * [[bucketedQuantileSelect]] (q134, q135, q136, q155, q156, q160,
    * q173, q179), [[weightedQuantileSelect]] (q163, q177),
    * [[exactPercentilesUngrouped]] (q18) and [[groupedPercentilesScalable]]
    * (q137, which needs TWO explicit ranks per quantile).
    *
    * Contract: `vals` is a (g, v, wt) frame — `g` a LOW-cardinality group
    * key (the collects are bounded by groups×quantiles), `v` long or
    * finite double (−0.0 and 0.0 are not distinguished), `wt` a POSITIVE
    * integer weight (wt = 1 is the unweighted case; zero or negative
    * weights break the strictly increasing running weight the crossing
    * rule needs). `stats` is [[groupStats]] of the same `vals`/`buckets`,
    * so `n` is the group's total weight. Each (g, q, k) row of `ranks`
    * resolves to the smallest v whose cumulative weight reaches k — with
    * wt = 1 the k-th order statistic, otherwise that of the wt-times-
    * expanded multiset, at the cost of the compact frame. Output
    * (g, q, n, k, v), v of the input's type.
    *
    * Bucket arithmetic is double for every value type:
    * b = floor((double v − double vmin) / w), and the sub-bucket likewise.
    * Every step is monotone non-decreasing in v — FP rounding can move a
    * bucket BOUNDARY, never reorder values — which is the only property
    * the running-weight rank location needs; the pick inside the target
    * bucket orders by v itself, so long results stay exact, and a group
    * spanning more than Long.MaxValue cannot overflow.
    *
    * Pass 1 sums weights per (group, bucket) (one map-side-combined
    * aggregate, ≤ groups×buckets METADATA rows); a running sum over those
    * rows locates, per (group, quantile), the bucket whose running weight
    * crosses k and the residual rank within it. Pass 2 filters the corpus
    * to the target buckets (scan-local predicate — reads ~1/buckets of
    * each group) and resolves the residual rank by the same crossing rule
    * over a running-weight window ordered by v:
    *  - bucket ≤ `bigBucket` rows → ONE task (bounded);
    *  - bigger → re-histogram the bucket into `buckets` sub-buckets
    *    (another metadata aggregate) and pick only inside the target
    *    SUB-bucket — a further `buckets`× cut;
    *  - target sub-bucket holding ONE distinct value (the heavy-key skew
    *    that defeats any equi-width cut) → the order statistic IS that
    *    value, answered from bucket metadata with no corpus task at all.
    * The small/big branch is decided DRIVER-side from the collected
    * bucket targets (≤ groups×quantiles rows of index metadata, the
    * probeIvfIndex collect class), so the common case builds exactly the
    * two-pass plan (declarative always-present union branches measured
    * +60% on q134: each empty branch still re-scanned the corpus), and
    * only genuinely oversize buckets pay the sub-histogram passes. The
    * straggler bound is on bucket ROW count, whatever the weights.
    * Oracles are ALGORITHM-INDEPENDENT flat sorts — affordable at gate
    * scale, which is exactly what proves the bucketed path exact. */
  private def selectAtRanks(vals: DataFrame, stats: DataFrame,
      ranks: DataFrame, buckets: Int, bigBucket: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.StructType
    val spark = vals.sparkSession
    def runningSum(c: String, part: Seq[String], order: String): Column =
      sum(col(c)).over(Window.partitionBy(part.map(col): _*).orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    // the one row whose running weight `run` crosses rank `r` — unique
    // because every step `wt` is ≥ 1 (with wt = 1: row_number = r)
    def crossing(run: String, wt: String, r: String): Column =
      col(run) >= col(r) && col(run) - col(wt) < col(r)
    val bucketed = vals.join(broadcast(stats), "g")
      .withColumn("b", floor(
        (col("v").cast("double") - col("vmin").cast("double")) / col("w")))
    val hist = bucketed.groupBy("g", "b")
      .agg(sum(col("wt")).as("wsum"), count(lit(1)).as("cnt"))
    val target = hist.withColumn("cum", runningSum("wsum", Seq("g"), "b"))
      .join(broadcast(ranks), "g")
      .filter(crossing("cum", "wsum", "k"))
      .select(col("g"), col("q"), col("n"), col("k"), col("b").as("tb"),
        (col("k") - (col("cum") - col("wsum"))).as("residual"),
        col("cnt").as("bcnt"))
    val tRows = target.collect() // pass 1 (the histogram) executes here
    val (bigRows, smallRows) = tRows.partition(_.getAs[Long]("bcnt") > bigBucket)
    def probe(targets: DataFrame): DataFrame =
      bucketed.as("x").join(broadcast(targets.as("t")),
          col("x.g") === col("t.g") && col("x.b") === col("t.tb"))
        .select(col("x.g").as("g"), col("t.q").as("q"), col("t.n").as("n"),
          col("t.k").as("k"), col("x.v").as("v"), col("x.wt").as("wt"),
          col("x.vmin").as("vmin"), col("x.w").as("w"), col("t.tb").as("tb"),
          col("t.residual").as("residual"))
    def pick(probed: DataFrame, residualCol: String): DataFrame =
      probed.withColumn("runw", runningSum("wt", Seq("g", "q"), "v"))
        .filter(crossing("runw", "wt", residualCol))
        .select("g", "q", "n", "k", "v")
    // bounded buckets: pick directly (one task holds ≤ bigBucket rows)
    val small = if (smallRows.isEmpty) None
      else Some(pick(probe(frameOf(spark, smallRows, target.schema)), "residual"))
    // oversize buckets: recurse — sub-histogram each bucket's value range
    val big = if (bigRows.isEmpty) None else {
      val bigF = frameOf(spark, bigRows, target.schema)
      val probedBig = probe(bigF)
        .withColumn("w2", greatest(col("w") / lit(buckets.toDouble),
          lit(java.lang.Double.MIN_NORMAL)))
        .withColumn("b2", floor((col("v").cast("double") -
          (col("vmin").cast("double") + col("tb") * col("w"))) / col("w2")))
      val target2 = probedBig.groupBy("g", "q", "b2")
        .agg(sum(col("wt")).as("wsum2"), min(col("v")).as("bmin"),
          (min(col("v")) === max(col("v"))).as("single"))
        .withColumn("cum2", runningSum("wsum2", Seq("g", "q"), "b2"))
        .join(broadcast(bigF.select("g", "q", "n", "k", "residual")),
          Seq("g", "q"))
        .filter(crossing("cum2", "wsum2", "residual"))
        .select(col("g"), col("q"), col("n"), col("k"), col("b2").as("tb2"),
          (col("residual") - (col("cum2") - col("wsum2"))).as("residual2"),
          col("bmin"), col("single"))
      val t2Rows = target2.collect() // sub-histogram pass executes here
      val (constRows, variedRows) = t2Rows.partition(_.getAs[Boolean]("single"))
      // heavy single value: the target sub-bucket IS bmin — the answer is
      // already on the driver as metadata, no picking task at all
      val const2 = if (constRows.isEmpty) None
        else Some(frameOf(spark, constRows, target2.schema)
          .select(col("g"), col("q"), col("n"), col("k"), col("bmin").as("v")))
      val varied = if (variedRows.isEmpty) None
        else Some(pick(
          probedBig.join(broadcast(frameOf(spark, variedRows, target2.schema)
              .select("g", "q", "tb2", "residual2")), Seq("g", "q"))
            .filter(col("b2") === col("tb2")), "residual2"))
      (const2.toSeq ++ varied.toSeq).reduceOption(_ unionByName _)
    }
    (small.toSeq ++ big.toSeq).reduceOption(_ unionByName _)
      .getOrElse(frameOf(spark, Nil, StructType(
        Seq("g", "q", "n", "k").map(target.schema(_)) :+ vals.schema("v"))))
  }

  /** Ungrouped EXACT interpolating percentile over double columns — the
    * scale form of q18's medians: reproduces Spark's built-in
    * `percentile(c, p)` bit-for-bit (continuous position `p·(n−1)`, the
    * `(higher−pos)·lo + (pos−lower)·hi` IEEE interpolation, and the
    * integral-position / equal-key shortcuts, all straight from
    * Percentile.getPercentile) — but through [[selectAtRanks]]'s
    * two bracketing order statistics instead of the built-in's
    * TypedImperativeAggregate, whose final task merges a buffer holding
    * EVERY distinct value with its count (the q70 cliff in ungrouped
    * form: one JVM owns the whole column at 100 TB). Returns one
    * (g = column name, n, p_exact) row per column; an all-NULL column
    * yields no row (the built-in returns NULL there). */
  def exactPercentilesUngrouped(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String], percentage: Double,
      bigBucket: Long = BigBucketRows): org.apache.spark.sql.DataFrame = {
    val vals = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("g"), col(c).cast("double").as("v"))): _*)).as("p"))
      .select("p.*").filter(col("v").isNotNull).withColumn("wt", lit(1L))
    val stats = groupStats(vals, GroupMedianBuckets)
    // continuous position pos = p·(n−1) in DOUBLE (exactly the built-in's
    // arithmetic — never integer rank fractions here, they round the
    // other side of an integer for some (p, n))
    val fr = stats.select(col("g"), col("n"),
        (lit(percentage) * (col("n") - 1L).cast("double")).as("pos"))
      .withColumn("lower", floor(col("pos")).cast("long"))
      .withColumn("higher", ceil(col("pos")).cast("long"))
    val ranks = fr.select(col("g"), lit("lo").as("q"), col("n"),
        (col("lower") + 1L).as("k"))
      .unionByName(fr.select(col("g"), lit("hi").as("q"), col("n"),
        (col("higher") + 1L).as("k")))
    val sel = selectAtRanks(vals, stats, ranks, GroupMedianBuckets, bigBucket)
    val wide = sel.groupBy("g").agg(max(col("n")).as("n"),
      max(when(col("q") === "lo", col("v"))).as("vlo"),
      max(when(col("q") === "hi", col("v"))).as("vhi"))
    wide.join(broadcast(fr.drop("n")), Seq("g"))
      .select(col("g"), col("n"),
        when(col("higher") === col("lower"), col("vlo"))
          .when(col("vlo") === col("vhi"), col("vlo"))
          .otherwise(
            (col("higher").cast("double") - col("pos")) * col("vlo") +
              (col("pos") - col("lower").cast("double")) * col("vhi"))
          .as("p_exact"))
  }

  /** q163: quantity-weighted median price — "the median unit shipped"
    * instead of "the median line item": every line counts `l_quantity`
    * times, answered on the COMPACT frame by [[weightedQuantileSelect]]
    * (expanding the multiset wt-fold and running q135 would multiply
    * corpus size by the mean weight; the compact frame pays one
    * weighted histogram + one in-bucket running-weight window). Exact
    * integer cents; the oracle pins the weight-expansion semantics via
    * per-value cumulative weights. */
  val q163WeightedMedian: QuerySpec = QuerySpec(
    "q163_weighted_median",
    """WITH c AS (
      |  SELECT l_returnflag AS g,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
      |    CAST(l_quantity AS BIGINT) AS wt
      |  FROM lineitem),
      |s AS (SELECT g, CAST(sum(wt) AS BIGINT) AS wtot FROM c GROUP BY g),
      |bins AS (SELECT g, v, CAST(sum(wt) AS BIGINT) AS bw
      |  FROM c GROUP BY g, v),
      |r AS (SELECT g, v,
      |  sum(bw) OVER (PARTITION BY g ORDER BY v) AS cw FROM bins)
      |SELECT r.g AS returnflag, s.wtot AS w_total,
      |  CAST((s.wtot + 1) // 2 AS BIGINT) AS k,
      |  CAST(min(v) AS BIGINT) AS wmedian_cents
      |FROM r JOIN s ON r.g = s.g WHERE cw >= (s.wtot + 1) // 2
      |GROUP BY 1, 2, 3 ORDER BY returnflag""".stripMargin) { (s, dir) =>
    val vals = Tables.lineitem(s, dir).select(
      col("l_returnflag").as("g"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("v"),
      col("l_quantity").cast("long").as("wt"))
    weightedQuantileSelect(vals, Seq(("p50", 1L, 2L)), GroupMedianBuckets,
        BigBucketRows)
      .select(col("g").as("returnflag"), col("wtot").as("w_total"),
        col("k"), col("v").as("wmedian_cents"))
      .orderBy("returnflag")
  }

  /** EXACT median at scale — the answer to "exact percentile needs a
    * global sort" (q18/q57's `percentile` is exact but sorts; q47/q59's
    * GK sketch is scalable but approximate; this is both exact AND
    * shuffle-light): [[bucketedQuantileSelect]] over the whole table as
    * one group. */
  def exactMedianScalable(lineitem: org.apache.spark.sql.DataFrame,
      bigBucket: Long = BigBucketRows): org.apache.spark.sql.DataFrame = {
    val cents = lineitem.select(lit(0L).as("g"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("v"))
    bucketedQuantileSelect(cents, Seq(("p50", 1L, 2L)), MedianBuckets, bigBucket)
      .select(col("n"), col("k"), col("v").as("median_cents"),
        (col("v").cast("double") / 100).as("median"))
  }

  /** q134: the two-level exact median vs the flat sorted-rank oracle. */
  val q134ExactMedian: QuerySpec = QuerySpec(
    "q134_exact_median",
    """WITH c AS (
      |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM lineitem),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(ceil(count(*) / 2.0) AS BIGINT) AS k FROM c),
      |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM c)
      |SELECT n, k, v AS median_cents, CAST(v AS DOUBLE) / 100 AS median
      |FROM r CROSS JOIN s WHERE rn = k""".stripMargin) { (s, dir) =>
    exactMedianScalable(Tables.lineitem(s, dir))
  }

  final val GroupMedianBuckets = 256

  private def eventMicroVals(events: org.apache.spark.sql.DataFrame) =
    events.select(col("event_type").as("g"),
      floor(col("value") * 1e6 + lit(0.5)).cast("long").as("v"))

  /** Per-GROUP exact median by the q134 two-level rank selection — the
    * scale form of q57's `percentile(value, 0.5)`: the built-in exact
    * percentile aggregate buffers EVERY value of a group in executor
    * memory (fine at gate scale, an OOM at 100 TB with few groups —
    * the q70 cliff in aggregate form), where this plan keeps per-group
    * state at `GroupMedianBuckets` counters. Histogram keyed by
    * (group, bucket); per-group running sums and the residual-rank pick
    * operate on groups×256 METADATA rows; the second corpus pass reads
    * only each group's target bucket. Values are micro-quantized
    * (events.value is 2dp — micro is lossless), so ranks are integer and
    * the flat per-group sorted-rank oracle pins the result. */
  def groupedExactMedian(events: org.apache.spark.sql.DataFrame,
      bigBucket: Long = BigBucketRows): org.apache.spark.sql.DataFrame =
    bucketedQuantileSelect(eventMicroVals(events), Seq(("p50", 1L, 2L)),
        GroupMedianBuckets, bigBucket)
      .select(col("g").as("event_type"), col("n"), col("k"),
        (col("v").cast("double") / 1e6).as("median"))
      .orderBy("event_type")

  /** The quantile set q136 publishes — exact order statistics at rank
    * ceil(num·n/den), integer arithmetic end to end (0.9·n in doubles
    * rounds the wrong way on multiples of 10). */
  final val QuantileSpecs: Seq[(String, Long, Long)] =
    Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))

  /** Per-group EXACT p50/p90/p99 — the arbitrary-rank generalization of
    * [[groupedExactMedian]] and the scale twin of q57 (whose built-in
    * `percentile` buffers every group value): one shared histogram pass
    * serves all three ranks, pass 2 reads only each (group, quantile)'s
    * target bucket. Quantile semantics are the exact lower order
    * statistic at rank ceil(p·n) — not q57's interpolating
    * `percentile`, which averages the two middle values; the flat
    * sorted-rank oracle pins exactly this. */
  def groupedExactQuantiles(events: org.apache.spark.sql.DataFrame,
      bigBucket: Long = BigBucketRows): org.apache.spark.sql.DataFrame =
    bucketedQuantileSelect(eventMicroVals(events), QuantileSpecs,
        GroupMedianBuckets, bigBucket)
      .select(col("g").as("event_type"), col("q").as("quantile"),
        col("n"), col("k"),
        (col("v").cast("double") / 1e6).as("value"))
      .orderBy("event_type", "quantile")

  /** q135: grouped exact medians vs the flat per-group sorted-rank oracle. */
  val q135GroupedMedian: QuerySpec = QuerySpec(
    "q135_grouped_exact_median",
    """WITH c AS (
      |  SELECT event_type, CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |s AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(ceil(count(*) / 2.0) AS BIGINT) AS k
      |  FROM c GROUP BY event_type),
      |r AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
      |  FROM c)
      |SELECT r.event_type, n, k, CAST(v AS DOUBLE) / 1e6 AS median
      |FROM r JOIN s ON r.event_type = s.event_type AND r.rn = s.k
      |ORDER BY r.event_type""".stripMargin) { (s, dir) =>
    groupedExactMedian(graft.Tables.events(s, dir))
  }

  /** The (group, quantized value) count state behind a LIVE exact-median
    * monitor — one map-side-combined aggregate that runs identically on a
    * batch frame and as a COMPLETE-mode streaming aggregation (the
    * cmsSketch / corpusBins state-is-the-result pattern: no watermark, no
    * join, mergeable by sum). State cardinality = groups × DISTINCT
    * quantized values — bounded by the value DOMAIN (2dp money values
    * over a fixed range ⇒ ≤ range×100 counters per group), not by corpus
    * size. That domain bound is the price of exactness: a fixed 256-
    * equi-width-bucket histogram is smaller but can only bracket the
    * median to a bucket, never resolve the exact order statistic from
    * bins alone. [[medianFromBins]] derives q135's exact values from this
    * state with metadata-only arithmetic. */
  def medianBins(events: org.apache.spark.sql.DataFrame,
      quantUnit: Long = 1L): org.apache.spark.sql.DataFrame = {
    require(quantUnit >= 1L, s"quantUnit must be >= 1, got $quantUnit")
    val vals = eventMicroVals(events)
    // the COARSE-QUANTIZATION fallback knob for wide-domain metrics:
    // quantUnit > 1 snaps micro values to multiples of quantUnit, cutting
    // state cardinality by ~quantUnit at the price of a bounded error
    // (|median_coarse − median_exact| ≤ quantUnit micro-units). This is
    // the dial to turn when [[binsGuard]] trips.
    val q = if (quantUnit == 1L) vals
      else vals.withColumn("v", expr(s"(v div $quantUnit) * $quantUnit"))
    q.groupBy("g", "v").agg(count(lit(1)).as("cnt"))
  }

  /** Documented bound on the value-bins exactness family's state
    * (q135/q136-from-bins, q158/q159, q164, q166, q167): bins cardinality
    * is bounded by the quantized value DOMAIN — a dial, not a constant.
    * 2dp money in [0, $10k] is 10^6 bins (comfortably metadata); micro-
    * unit quantization of a wide-domain metric is not. Past this bound
    * the "metadata window" claim is false (the single-task or per-group
    * window becomes the corpus), so the derivers fail LOUDLY via
    * [[binsGuard]] instead of silently degrading — the caller's outs are
    * the [[medianBins]] `quantUnit` coarsening knob or the sketch twins
    * (q47 GK / q141 HLL / q119 CMS). */
  final val MaxBinsStateRows: Long = 2000000L

  /** The driftVsRollup raise_error discipline applied to bins-state
    * cardinality: `nbins` rides an existing window pass (no extra
    * shuffle), and the guarded output column makes the check
    * non-prunable. */
  private def binsGuard(nbins: Column, value: Column, what: String,
      bound: Long): Column =
    when(nbins <= bound, value).otherwise(raise_error(lit(
      s"$what: value-bins state exceeded $bound rows — the quantized " +
        "value DOMAIN is a dial, not a constant: coarsen the " +
        "quantization (medianBins quantUnit) or switch to the sketch " +
        "twin (see MaxBinsStateRows scaladoc)")))

  /** Bins-only exact median: [[quantilesFromBins]] at rank ceil(n/2) —
    * no corpus pass at all, so a monitoring stream can publish exact
    * per-group medians every micro-batch. Output schema ≡ q135
    * ([[groupedExactMedian]]); StreamingSpec pins stream ≡ batch. */
  def medianFromBins(bins: org.apache.spark.sql.DataFrame,
      maxBins: Long = MaxBinsStateRows): org.apache.spark.sql.DataFrame =
    quantilesFromBins(bins, Seq(("p50", 1L, 2L)), maxBins)
      .select(col("event_type"), col("n"), col("k"), col("value").as("median"))
      .orderBy("event_type")

  /** Bins-only exact quantiles: a per-group running sum over the live
    * [[medianBins]] state rows picks, per (group, quantile), the value
    * whose cumulative count first reaches rank ceil(num·n/den). Output
    * schema ≡ q136 ([[groupedExactQuantiles]]); the monitor publishes all
    * three [[QuantileSpecs]] quantiles from one state pass per
    * micro-batch. */
  def quantilesFromBins(bins: org.apache.spark.sql.DataFrame,
      quantiles: Seq[(String, Long, Long)] = QuantileSpecs,
      maxBins: Long = MaxBinsStateRows): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = bins.sparkSession
    import spark.implicits._
    val qdf = quantiles.toDF("q", "num", "den")
    val wCum = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // group totals as a second window over the SAME frame (not a
    // self-join — a memory-sink view joined to itself trips conflicting
    // attribute references, and the bins are metadata rows anyway)
    val wTot = Window.partitionBy("g")
    bins.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wTot))
      .withColumn("__nb", count(lit(1)).over(wTot))
      .crossJoin(broadcast(qdf))
      .withColumn("k", expr("(num * n + den - 1L) div den"))
      .filter(col("cum") >= col("k") && col("cum") - col("cnt") < col("k"))
      .select(col("g").as("event_type"), col("q").as("quantile"),
        col("n"), col("k"),
        binsGuard(col("__nb"), col("v").cast("double") / 1e6,
          "quantilesFromBins", maxBins).as("value"))
      .orderBy("event_type", "quantile")
  }

  /** q136: grouped exact p50/p90/p99 vs the flat per-group sorted-rank
    * oracle (rank k = ceil(num·n/den) in integer arithmetic in BOTH
    * engines — `//` is DuckDB's integer division). */
  val q136GroupedQuantiles: QuerySpec = QuerySpec(
    "q136_grouped_exact_quantiles", {
      val qvals = QuantileSpecs
        .map { case (l, num, den) => s"('$l', $num, $den)" }.mkString(", ")
      s"""WITH c AS (
        |  SELECT event_type, CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM c GROUP BY event_type),
        |q AS (SELECT * FROM (VALUES $qvals) AS t(quantile, num, den)),
        |ks AS (
        |  SELECT event_type, quantile, n,
        |    CAST((num * n + den - 1) // den AS BIGINT) AS k
        |  FROM s CROSS JOIN q),
        |r AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
        |  FROM c)
        |SELECT ks.event_type, quantile, n, k, CAST(v AS DOUBLE) / 1e6 AS value
        |FROM r JOIN ks ON r.event_type = ks.event_type AND r.rn = ks.k
        |ORDER BY ks.event_type, quantile""".stripMargin
    }) { (s, dir) =>
    groupedExactQuantiles(graft.Tables.events(s, dir))
  }

  /** Per-group INTERPOLATING exact percentiles at scale — the true
    * drop-in replacement for q57's built-in `percentile` (which buffers
    * every group value in executor memory; the q70 cliff in aggregate
    * form). `percentile`/`quantile_cont` interpolate between the two
    * order statistics bracketing continuous rank 1 + p·(n−1); this
    * fetches BOTH through [[selectAtRanks]] (two rank rows per quantile,
    * ONE shared histogram pass) and interpolates in exact integer
    * micro-units: rank arithmetic is `num·(n−1) div/mod den` — never
    * `0.9*(n-1)` in doubles, which rounds the wrong side of an integer —
    * and the blend `(vLo·(den−m) + vHi·m) / den` divides once at the
    * end. Output schema ≡ q57, and the ORACLE IS q57's `quantile_cont`
    * SQL — the strongest form of the drop-in claim. */
  def groupedPercentilesScalable(events: org.apache.spark.sql.DataFrame,
      bigBucket: Long = BigBucketRows): org.apache.spark.sql.DataFrame = {
    import graft.functions.Functions.round4
    val spark = events.sparkSession
    import spark.implicits._
    val vals = eventMicroVals(events).withColumn("wt", lit(1L))
    val stats = groupStats(vals, GroupMedianBuckets)
    val qdf = QuantileSpecs.toDF("q", "num", "den")
    // continuous rank r = 1 + num·(n−1)/den; bracket = (kLo, kLo + (m>0))
    val fracs = stats.crossJoin(qdf)
      .select(col("g"), col("q"), col("n"), col("den"),
        expr("1L + (num * (n - 1L)) div den").as("kLo"),
        expr("(num * (n - 1L)) % den").as("m"))
    val ranks = fracs.select(col("g"), concat(col("q"), lit("#lo")).as("q"),
        col("n"), col("kLo").as("k"))
      .unionByName(fracs.select(col("g"), concat(col("q"), lit("#hi")).as("q"),
        col("n"),
        (col("kLo") + when(col("m") > 0, 1L).otherwise(0L)).as("k")))
    val sel = selectAtRanks(vals, stats, ranks, GroupMedianBuckets, bigBucket)
    val wide = sel
      .withColumn("label", expr("split(q, '#')[0]"))
      .withColumn("role", expr("split(q, '#')[1]"))
      .groupBy("g", "label")
      .agg(max(col("n")).as("n"),
        max(when(col("role") === "lo", col("v"))).as("vlo"),
        max(when(col("role") === "hi", col("v"))).as("vhi"))
    val interp = wide
      .join(broadcast(fracs.select(col("g"), col("q").as("label"),
        col("m"), col("den"))), Seq("g", "label"))
      .withColumn("p",
        (col("vlo") * (col("den") - col("m")) + col("vhi") * col("m"))
          .cast("double") / col("den") / 1e6)
    interp.groupBy(col("g").as("event_type"))
      .agg(max(col("n")).as("n"),
        round4(max(when(col("label") === "p50", col("p")))).as("p50"),
        round4(max(when(col("label") === "p90", col("p")))).as("p90"),
        round4(max(when(col("label") === "p99", col("p")))).as("p99"))
      .orderBy("event_type")
  }

  /** q137: the scalable interpolating percentiles against q57's OWN
    * `quantile_cont` oracle — identical SQL string, so the two queries
    * are value-level interchangeable by construction. */
  val q137PercentilesScalable: QuerySpec = QuerySpec(
    "q137_percentiles_scalable",
    GroupedPercentilesOracleSql) { (s, dir) =>
    groupedPercentilesScalable(graft.Tables.events(s, dir))
  }

  /** q138 zone-map parameters: logical block width and the pinned probe
    * range the `kept` flag evaluates. */
  final val ZoneBlockSize = 100L
  final val ZoneLo = 42L
  final val ZoneHi = 137L

  /** q138: logical zone map over documents — the data-skipping decision
    * structure, oracle-pinned: per doc_id-range block, row count and
    * min/max boxes on (doc_id, n_chars), plus the `kept` flag a range
    * probe on [ZoneLo, ZoneHi] would evaluate. Shares
    * [[graft.pipeline.Store.zoneMap]] with the physical per-FILE skip
    * manifest ([[graft.pipeline.Store.buildSkipManifest]]) — same
    * aggregation, block = table-relative file path there; StoreSpec pins that the
    * pruned scan reads exactly the kept files and returns exactly the
    * unpruned filter's rows. The aggregate's cardinality is the block
    * count, never rows — index metadata at any corpus size. */
  val q138ZoneMap: QuerySpec = QuerySpec(
    "q138_zone_map",
    s"""SELECT doc_id // $ZoneBlockSize AS block,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(min(doc_id) AS BIGINT) AS min_doc_id,
      |  CAST(max(doc_id) AS BIGINT) AS max_doc_id,
      |  CAST(min(n_chars) AS BIGINT) AS min_n_chars,
      |  CAST(max(n_chars) AS BIGINT) AS max_n_chars,
      |  (max(doc_id) >= $ZoneLo AND min(doc_id) <= $ZoneHi) AS kept
      |FROM documents GROUP BY 1 ORDER BY block""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    graft.pipeline.Store.zoneMap(docs,
        expr(s"doc_id div $ZoneBlockSize"), Seq("doc_id", "n_chars"))
      .withColumn("kept",
        col("max_doc_id") >= ZoneLo && col("min_doc_id") <= ZoneHi)
      .orderBy("block")
  }

  /** Buckets for the q142 join-size histograms. */
  final val JoinProbeBuckets = 256

  /** q142: join-cardinality probe — the pre-join planning numbers that
    * decide broadcast vs shuffle vs salting BEFORE paying for the join:
    *   - `exact_pairs`: |orders ⋈ lineitem| from the per-key count
    *     co-group (key-cardinality shuffle — the exact answer when keys
    *     fit a shuffle, which is the q127 class of cost);
    *   - `max_key_pairs`: the hottest key's contribution — the skew apex
    *     that decides salting / AQE skew-join;
    *   - `est_pairs`: the O(buckets)-state upper bound from hashed
    *     per-bucket histograms (each side aggregates to ≤ buckets rows —
    *     broadcastable index metadata at ANY corpus size; collisions
    *     only ever inflate, never undercount, so `bound_ok` pins
    *     est ≥ exact). At 100 TB the bucketed form is the probe you can
    *     afford per candidate join; the exact form is the audit.
    * All counts integer, both engines compute identical values. */
  val q142JoinSizeProbe: QuerySpec = QuerySpec(
    "q142_join_size_probe", {
      def bucket(k: String) =
        graft.ext.Sampling.hashBucketSql(k, JoinProbeBuckets, "jsz:")
      s"""WITH ka AS (SELECT o_orderkey AS k, count(*) AS ca FROM orders GROUP BY 1),
        |kb AS (SELECT l_orderkey AS k, count(*) AS cb FROM lineitem GROUP BY 1),
        |ex AS (SELECT sum(ca * cb) AS exact_pairs, max(ca * cb) AS max_key_pairs
        |  FROM ka JOIN kb USING (k)),
        |ba AS (SELECT ${bucket("o_orderkey")} AS bk, count(*) AS ca
        |  FROM orders GROUP BY 1),
        |bb AS (SELECT ${bucket("l_orderkey")} AS bk, count(*) AS cb
        |  FROM lineitem GROUP BY 1),
        |es AS (SELECT sum(ca * cb) AS est_pairs FROM ba JOIN bb USING (bk))
        |SELECT CAST(exact_pairs AS BIGINT) AS exact_pairs,
        |  CAST(max_key_pairs AS BIGINT) AS max_key_pairs,
        |  CAST(est_pairs AS BIGINT) AS est_pairs,
        |  (est_pairs >= exact_pairs) AS bound_ok
        |FROM ex, es""".stripMargin
    }) { (s, dir) =>
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    val ka = o.groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("ca"))
    val kb = l.groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cb"))
    // ONE linear DAG serves all three numbers (one scan per side): the
    // full-outer per-key co-group keeps unmatched keys (they contribute
    // 0 to exact but DO fill buckets, which is where the collision
    // inflation the estimate measures comes from), then the bucket-level
    // partials roll exact/max/est up together. The production probe
    // skips the co-group and aggregates rows straight to buckets.
    val j = ka.join(kb, Seq("k"), "full_outer").select(col("k"),
      coalesce(col("ca"), lit(0L)).as("ca"),
      coalesce(col("cb"), lit(0L)).as("cb"))
    val g = j.groupBy(graft.ext.Sampling.hashBucket(col("k"),
        JoinProbeBuckets, "jsz:").as("bk"))
      .agg(sum(col("ca") * col("cb")).as("exact_b"),
        max(col("ca") * col("cb")).as("max_b"),
        sum(col("ca")).as("ca_b"), sum(col("cb")).as("cb_b"))
    g.agg(sum(col("exact_b")).as("exact_pairs"),
        max(col("max_b")).as("max_key_pairs"),
        sum(col("ca_b") * col("cb_b")).as("est_pairs"))
      .select(
        col("exact_pairs").cast("long").as("exact_pairs"),
        col("max_key_pairs").cast("long").as("max_key_pairs"),
        col("est_pairs").cast("long").as("est_pairs"),
        (col("est_pairs") >= col("exact_pairs")).as("bound_ok"))
  }

  /** q155: winsorized (robust) mean per return flag — clip extended
    * price to the EXACT [p05, p95] order statistics, then sum in
    * integer cents. Composes the shared bucketed rank selection
    * ([[bucketedQuantileSelect]] — both cut points resolve through the
    * same two-level histogram engine as q134–q137, no global sort),
    * broadcasts the O(groups) cut frame, and finishes with one
    * conditional aggregate pass. The robust-stats answer to outlier
    * contamination a trimmed pipeline wants at any corpus size; exact
    * integer output so both engines agree bit-for-bit. */
  val q155WinsorizedMean: QuerySpec = QuerySpec(
    "q155_winsorized_mean",
    """WITH vals AS (
      |  SELECT l_returnflag AS g,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM lineitem),
      |st AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows
      |  FROM vals GROUP BY g),
      |rk AS (SELECT g, v,
      |  row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM vals),
      |cuts AS (
      |  SELECT rk.g, st.n_rows,
      |    max(CASE WHEN rn = (n_rows + 19) // 20 THEN v END) AS lo_cents,
      |    max(CASE WHEN rn = (19 * n_rows + 19) // 20 THEN v END)
      |      AS hi_cents
      |  FROM rk JOIN st USING (g) GROUP BY rk.g, st.n_rows)
      |SELECT c.g AS returnflag, c.n_rows, c.lo_cents, c.hi_cents,
      |  CAST(sum(CASE WHEN x.v < c.lo_cents THEN c.lo_cents
      |    WHEN x.v > c.hi_cents THEN c.hi_cents ELSE x.v END) AS BIGINT)
      |    AS winsor_cents
      |FROM vals x JOIN cuts c ON x.g = c.g
      |GROUP BY 1, 2, 3, 4 ORDER BY returnflag""".stripMargin) { (s, dir) =>
    val vals = Tables.lineitem(s, dir).select(
      col("l_returnflag").as("g"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("v"))
    val cuts = bucketedQuantileSelect(vals,
      Seq(("p05", 1L, 20L), ("p95", 19L, 20L)), GroupMedianBuckets,
      BigBucketRows)
      .groupBy("g").agg(
        max(col("n")).as("n_rows"),
        max(when(col("q") === "p05", col("v"))).as("lo_cents"),
        max(when(col("q") === "p95", col("v"))).as("hi_cents"))
    vals.join(broadcast(cuts), "g")
      .groupBy(col("g").as("returnflag"), col("n_rows"),
        col("lo_cents"), col("hi_cents"))
      .agg(sum(when(col("v") < col("lo_cents"), col("lo_cents"))
        .when(col("v") > col("hi_cents"), col("hi_cents"))
        .otherwise(col("v"))).as("winsor_cents"))
      .orderBy("returnflag")
  }

  /** q156: MAD (median absolute deviation) robust outlier audit per
    * event type — the nonparametric twin of q70's mean/stddev z-score,
    * which an outlier itself can drag (one 1e9 value shifts the mean AND
    * inflates sigma until nothing flags); the median/MAD pair is immune
    * to contamination below 50%. Both order statistics resolve through
    * the SHARED bucketed rank selection ([[bucketedQuantileSelect]] —
    * median of v, then median of |v − med| over the deviation frame), so
    * no global sort at any corpus size; the O(groups) med/MAD frames
    * broadcast and ONE conditional aggregate counts |v − med| > 3·MAD in
    * exact micro-unit integers. Even-n median is the lower middle
    * (rank ceil(n/2)) in both engines. */
  val q156MadOutliers: QuerySpec = QuerySpec(
    "q156_mad_outliers",
    """WITH c AS (
      |  SELECT event_type AS g,
      |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
      |    CAST(ceil(count(*) / 2.0) AS BIGINT) AS k FROM c GROUP BY g),
      |r AS (SELECT g, v,
      |  row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM c),
      |med AS (SELECT r.g, v AS med FROM r JOIN s ON r.g = s.g AND r.rn = s.k),
      |d AS (SELECT c.g, abs(c.v - med.med) AS dv
      |  FROM c JOIN med ON c.g = med.g),
      |r2 AS (SELECT g, dv,
      |  row_number() OVER (PARTITION BY g ORDER BY dv) AS rn FROM d),
      |mad AS (SELECT r2.g, dv AS mad
      |  FROM r2 JOIN s ON r2.g = s.g AND r2.rn = s.k)
      |SELECT c.g AS event_type, max(s.n) AS n,
      |  CAST(max(med.med) AS DOUBLE) / 1e6 AS median,
      |  CAST(max(mad.mad) AS DOUBLE) / 1e6 AS mad,
      |  CAST(sum(CASE WHEN abs(c.v - med.med) > 3 * mad.mad
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM c JOIN med ON c.g = med.g JOIN mad ON c.g = mad.g
      |  JOIN s ON c.g = s.g
      |GROUP BY c.g ORDER BY event_type""".stripMargin) { (s, dir) =>
    madOutliers(graft.Tables.events(s, dir))
  }

  /** The q156 operator on any (event_type, value) frame. */
  def madOutliers(events: org.apache.spark.sql.DataFrame,
      bigBucket: Long = BigBucketRows): org.apache.spark.sql.DataFrame = {
    val vals = eventMicroVals(events)
    val med = bucketedQuantileSelect(vals, Seq(("p50", 1L, 2L)),
        GroupMedianBuckets, bigBucket)
      .select(col("g"), col("n"), col("v").as("med"))
    val dev = vals.join(broadcast(med.select("g", "med")), "g")
      .select(col("g"), abs(col("v") - col("med")).as("v"))
    val mad = bucketedQuantileSelect(dev, Seq(("p50", 1L, 2L)),
        GroupMedianBuckets, bigBucket)
      .select(col("g"), col("v").as("mad"))
    vals.join(broadcast(med), "g").join(broadcast(mad), "g")
      .groupBy(col("g").as("event_type"))
      .agg(max(col("n")).as("n"),
        (max(col("med")).cast("double") / 1e6).as("median"),
        (max(col("mad")).cast("double") / 1e6).as("mad"),
        sum(when(abs(col("v") - col("med")) > lit(3L) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** The event-type axis of the two-sample distribution tests — 'view'
    * is the baseline; every other type is compared against it. */
  private val DistTestBase = "view"
  private val DistTestOthers = Seq("click", "error", "purchase", "signup")

  /** Shared frame of q158/q159 — per-quantized-value counts AND running
    * counts for every event type: ONE map-side-combined aggregate keyed
    * by the 2dp-lossless micro value (state bounded by the value DOMAIN,
    * the [[medianBins]] class — ≤ range×100 rows regardless of corpus
    * size), then one single-partition window over that METADATA frame
    * derives every type's ECDF numerator at every distinct value of the
    * UNION of the distributions (absent values carry the running count
    * forward because the bin row exists whenever ANY type hit it, with
    * zeros for the others — per-type windows would skip those steps).
    * The no-partition WindowExec is safe for the same reason
    * [[medianFromBins]]'s is: its input is domain-bounded bins. */
  /** The per-value count state behind q158/q159 — and a LIVE drift
    * monitor: ONE map-side-combined aggregate keyed by the 2dp-lossless
    * micro value, which runs identically on a batch frame and as a
    * COMPLETE-mode streaming aggregation (the [[medianBins]] /
    * cmsSketch state-is-the-result pattern: no watermark, mergeable by
    * sum, state bounded by the value DOMAIN — ≤ range×100 rows
    * regardless of corpus size). [[ksFromBins]] /
    * [[mannWhitneyFromBins]] derive both tests from this state with
    * metadata-only arithmetic, so a stream can re-run the full KS/MWU
    * decision after every micro-batch. */
  def distTestBins(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val allTypes = DistTestBase +: DistTestOthers
    val c = events.select(col("event_type").as("t"),
      floor(col("value") * 1e6 + lit(0.5)).cast("long").as("v"))
    val cnts = allTypes.map(ty =>
      sum(when(col("t") === ty, 1L).otherwise(0L)).as(s"c_$ty"))
    c.groupBy("v").agg(cnts.head, cnts.tail: _*)
  }

  private def cumFromBins(bins: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allTypes = DistTestBase +: DistTestOthers
    val w = Window.orderBy("v")
    // the totals ride the SAME window pass with an unbounded frame (one
    // WindowExec, two frames) — a separate totals aggregate would rescan
    // the corpus; this way the corpus is read exactly ONCE per test
    val wAll = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bins.select(col("v") +: (allTypes.flatMap(ty => Seq(col(s"c_$ty"),
      sum(col(s"c_$ty")).over(w).as(s"s_$ty"),
      sum(col(s"c_$ty")).over(wAll).as(s"n_$ty"))) :+
      // bins cardinality rides the SAME unbounded frame — the derivers
      // guard on it ([[binsGuard]]); no extra pass
      count(lit(1)).over(wAll).as("__nb")): _*)
  }

  /** The SQL twin of [[typeBinsCum]]'s count/cum/total columns. */
  private def typeBinsCumSql: String = {
    val allTypes = DistTestBase +: DistTestOthers
    val cnts = allTypes.map(ty =>
      s"CAST(sum(CASE WHEN t = '$ty' THEN 1 ELSE 0 END) AS BIGINT) AS c_$ty")
      .mkString(",\n      |    ")
    val cums = allTypes.map(ty =>
      s"c_$ty, CAST(sum(c_$ty) OVER (ORDER BY v) AS BIGINT) AS s_$ty, " +
        s"CAST(sum(c_$ty) OVER () AS BIGINT) AS n_$ty")
      .mkString(",\n      |    ")
    s"""c AS (
      |  SELECT event_type AS t,
      |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v FROM events),
      |bins AS (SELECT v,
      |    $cnts
      |  FROM c GROUP BY v),
      |cum AS (SELECT v,
      |    $cums
      |  FROM bins)"""
  }

  /** q158: two-sample Kolmogorov–Smirnov drift test — the DISTRIBUTION
    * answer to "did this slice shift?" that mean/variance probes
    * (q140's z-drift) miss when a shift preserves moments. Statistic in
    * exact integers: D's numerator is `max |s_base·n_x − s_x·n_base|`
    * over the union-of-values ECDF steps of [[typeBinsCum]] (cross-
    * multiplied — no division anywhere), and the α=0.05 decision squares
    * the critical envelope: `D_num²·10⁴ > 18444·(n_b+n_x)·n_b·n_x`
    * (c²(0.05) = −ln(0.025)/2 = 1.8444 at 4dp). DECIMAL(38,0)/HUGEINT
    * keep the squared products exact, so both engines compute the
    * identical numerator and boolean. One corpus aggregate + metadata
    * window; every pairwise comparison reads the SAME bins frame. */
  val q158KsDrift: QuerySpec = QuerySpec(
    "q158_ks_drift", {
      val branches = DistTestOthers.map { ty =>
        s"""SELECT '$ty' AS vs_type, n_$DistTestBase AS n_base,
          |  n_$ty AS n_other, CAST(ks_$ty AS BIGINT) AS ks_num,
          |  ks_$ty * ks_$ty * 10000 >
          |    CAST(18444 AS HUGEINT) * (n_$DistTestBase + n_$ty)
          |      * n_$DistTestBase * n_$ty AS reject_05
          |FROM ks""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $typeBinsCumSql,
        |ks AS (SELECT
        |    ${(DistTestOthers.map(ty =>
            s"max(abs(CAST(s_$DistTestBase AS HUGEINT) * n_$ty" +
              s" - CAST(s_$ty AS HUGEINT) * n_$DistTestBase)) AS ks_$ty") ++
            (DistTestBase +: DistTestOthers).map(ty =>
              s"max(n_$ty) AS n_$ty"))
            .mkString(",\n        |    ")}
        |  FROM cum)
        |$branches
        |ORDER BY vs_type""".stripMargin
    }) { (s, dir) => ksDrift(graft.Tables.events(s, dir)) }

  /** The q158 operator on any (event_type, value) frame. */
  def ksDrift(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ksFromBins(distTestBins(events))

  /** q158's test from [[distTestBins]] state alone (live-monitor form). */
  def ksFromBins(bins: org.apache.spark.sql.DataFrame,
      maxBins: Long = MaxBinsStateRows): org.apache.spark.sql.DataFrame = {
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val cum = cumFromBins(bins)
    val ksCols = DistTestOthers.map(ty =>
      max(abs(d38(col(s"s_$DistTestBase")) * col(s"n_$ty")
        - d38(col(s"s_$ty")) * col(s"n_$DistTestBase"))).as(s"ks_$ty")) ++
      (DistTestBase +: DistTestOthers).map(ty =>
        max(col(s"n_$ty")).as(s"n_$ty")) :+ max(col("__nb")).as("__nb")
    val ks = cum.agg(ksCols.head, ksCols.tail: _*)
    val triples = DistTestOthers.map { ty =>
      s"'$ty', n_$DistTestBase, n_$ty, ks_$ty, " +
        s"ks_$ty * ks_$ty * 10000 > cast(18444 as decimal(38,0)) * " +
        s"(n_$DistTestBase + n_$ty) * n_$DistTestBase * n_$ty"
    }.mkString(", ")
    ks.select(col("__nb"), expr(s"stack(${DistTestOthers.size}, $triples) AS " +
        "(vs_type, n_base, n_other, ks_dec, reject_05)"))
      .select(col("vs_type"), col("n_base"), col("n_other"),
        col("ks_dec").cast("long").as("ks_num"),
        binsGuard(col("__nb"), col("reject_05"), "ksFromBins", maxBins)
          .as("reject_05"))
      .orderBy("vs_type")
  }

  /** q159: Mann–Whitney U (rank-sum) audit — the NONPARAMETRIC twin of
    * q153's z-test: detects a location shift between two slices with no
    * normality assumption and no moment sensitivity (one huge outlier
    * moves q153's inputs, but only by one rank here). Doubled statistic
    * stays integer under midrank ties: `U2_base = Σ_v c_base·(2·s_x −
    * c_x)` over [[typeBinsCum]]'s bins (= 2·[#base-wins + ½·ties]);
    * `identity_ok` pins the partition identity `U2_b + U2_x = 2·n_b·n_x`
    * in both engines. The α=0.05 normal-approximation decision (no tie
    * correction — conservative) squares to `3·(U2_b − n_b·n_x)²·10⁴ >
    * 38416·n_b·n_x·(n_b+n_x+1)` in DECIMAL(38,0)/HUGEINT. Same
    * one-aggregate + metadata-window shape as q158. */
  val q159MannWhitney: QuerySpec = QuerySpec(
    "q159_mann_whitney", {
      val b = DistTestBase
      val branches = DistTestOthers.map { ty =>
        s"""SELECT '$ty' AS vs_type, n_$b AS n_base, n_$ty AS n_other,
          |  CAST(u2_$ty AS BIGINT) AS u2_base,
          |  CAST(2 * CAST(n_$b AS HUGEINT) * n_$ty - u2_$ty AS BIGINT)
          |    AS u2_other,
          |  (u2r_$ty + u2_$ty = 2 * CAST(n_$b AS HUGEINT) * n_$ty)
          |    AS identity_ok,
          |  3 * (u2_$ty - CAST(n_$b AS HUGEINT) * n_$ty)
          |    * (u2_$ty - CAST(n_$b AS HUGEINT) * n_$ty) * 10000 >
          |    CAST(38416 AS HUGEINT) * n_$b * n_$ty * (n_$b + n_$ty + 1)
          |    AS reject_05
          |FROM u""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $typeBinsCumSql,
        |u AS (SELECT
        |    ${(DistTestOthers.map(ty =>
            s"sum(CAST(c_$b AS HUGEINT) * (2 * s_$ty - c_$ty)) AS u2_$ty, " +
              s"sum(CAST(c_$ty AS HUGEINT) * (2 * s_$b - c_$b)) AS u2r_$ty") ++
            (b +: DistTestOthers).map(ty => s"max(n_$ty) AS n_$ty"))
            .mkString(",\n        |    ")}
        |  FROM cum)
        |$branches
        |ORDER BY vs_type""".stripMargin
    }) { (s, dir) => mannWhitney(graft.Tables.events(s, dir)) }

  /** The q159 operator on any (event_type, value) frame. */
  def mannWhitney(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    mannWhitneyFromBins(distTestBins(events))

  /** q159's test from [[distTestBins]] state alone (live-monitor form). */
  def mannWhitneyFromBins(bins: org.apache.spark.sql.DataFrame,
      maxBins: Long = MaxBinsStateRows): org.apache.spark.sql.DataFrame = {
    val b = DistTestBase
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val cum = cumFromBins(bins)
    val uCols = DistTestOthers.flatMap(ty => Seq(
      sum(d38(col(s"c_$b")) * (lit(2) * col(s"s_$ty") - col(s"c_$ty")))
        .as(s"u2_$ty"),
      sum(d38(col(s"c_$ty")) * (lit(2) * col(s"s_$b") - col(s"c_$b")))
        .as(s"u2r_$ty"))) ++
      (b +: DistTestOthers).map(ty => max(col(s"n_$ty")).as(s"n_$ty")) :+
      max(col("__nb")).as("__nb")
    val u = cum.agg(uCols.head, uCols.tail: _*)
    val tuples = DistTestOthers.map { ty =>
      s"'$ty', n_$b, n_$ty, u2_$ty, " +
        s"2 * cast(n_$b as decimal(38,0)) * n_$ty - u2_$ty, " +
        s"u2r_$ty + u2_$ty = 2 * cast(n_$b as decimal(38,0)) * n_$ty, " +
        s"3 * (u2_$ty - cast(n_$b as decimal(38,0)) * n_$ty) * " +
        s"(u2_$ty - cast(n_$b as decimal(38,0)) * n_$ty) * 10000 > " +
        s"cast(38416 as decimal(38,0)) * n_$b * n_$ty * (n_$b + n_$ty + 1)"
    }.mkString(", ")
    u.select(col("__nb"), expr(s"stack(${DistTestOthers.size}, $tuples) AS " +
        "(vs_type, n_base, n_other, u2b_dec, u2o_dec, identity_ok, reject_05)"))
      .select(col("vs_type"), col("n_base"), col("n_other"),
        col("u2b_dec").cast("long").as("u2_base"),
        col("u2o_dec").cast("long").as("u2_other"),
        col("identity_ok"),
        binsGuard(col("__nb"), col("reject_05"), "mannWhitneyFromBins",
          maxBins).as("reject_05"))
      .orderBy("vs_type")
  }

  /** q160: EXACT equi-depth histogram — the selectivity statistic a
    * cost-based optimizer wants (equal-POPULATION buckets track skewed
    * data where q138's equal-WIDTH zone boxes go empty/overfull): all
    * nine decile boundaries resolve through ONE shared
    * [[bucketedQuantileSelect]] histogram pass (exact rank
    * ceil(d·n/10), integer arithmetic), then bucket assignment is a
    * SCAN-LOCAL fold over the nine collected cut literals (the
    * O(quantiles) driver-metadata class — no join, no second shuffle
    * beyond the final 10-group aggregate). Ties sit with the bucket
    * whose upper cut they equal (`bucket = Σ 1[v > cut_d]`), so both
    * engines assign identically; tie-heavy data legitimately shows
    * uneven bucket populations — that unevenness IS the statistic. */
  val q160EquiDepthHist: QuerySpec = QuerySpec(
    "q160_equidepth_hist", {
      val cutDefs = (1 to 9).map(d =>
        s"max(CASE WHEN rn = ($d * n + 9) // 10 THEN v END) AS cut$d")
        .mkString(",\n      |    ")
      val bucketSum = (1 to 9).map(d =>
        s"(CASE WHEN v > cut$d THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH c AS (
        |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM lineitem),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM c),
        |cuts AS (SELECT
        |    $cutDefs
        |  FROM r, s),
        |sel AS (SELECT v, $bucketSum AS bucket FROM c, cuts)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(v) AS lo_cents, max(v) AS hi_cents
        |FROM sel GROUP BY bucket ORDER BY bucket""".stripMargin
    }) { (s, dir) =>
    equiDepthHist(Tables.lineitem(s, dir).select(lit(0L).as("g"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("v")))
  }

  /** The q160 operator on any single-group (g, v) frame. */
  def equiDepthHist(vals: org.apache.spark.sql.DataFrame,
      bigBucket: Long = BigBucketRows): org.apache.spark.sql.DataFrame = {
    val cuts = bucketedQuantileSelect(vals,
        (1 to 9).map(d => (s"d$d", d.toLong, 10L)), MedianBuckets,
        bigBucket)
      .select("q", "v").collect()
      .map(r => r.getAs[String]("q") -> r.getAs[Long]("v")).toMap
    val bucket = (1 to 9).map(d =>
        when(col("v") > lit(cuts(s"d$d")), 1).otherwise(0))
      .reduce(_ + _)
    vals.select(col("v"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col("v")).as("lo_cents"), max(col("v")).as("hi_cents"))
      .orderBy("bucket")
  }

  /** Benford ppm constants: round(log10(1+1/d)·1e6) for d = 1..9 —
    * they sum to exactly 1,000,000, so the expectation is a rational
    * both engines share bit-for-bit. */
  private val BenfordPpm = Seq(301030L, 176091L, 124939L, 96910L,
    79181L, 66947L, 57992L, 51153L, 45757L)

  /** q161: Benford first-digit audit — the classic fabricated-data /
    * wrong-units detector for any multi-order-of-magnitude measure.
    * First significant digit via the DIGIT STRING of integer cents
    * (never `floor(log10 v)`, whose float result at exact powers of ten
    * differs between engines); per-digit z² against the 6dp-rational
    * Benford expectation in cross-multiplied DECIMAL(38,0) integers:
    * `(1e6·obs − n·p)²·10⁴ > 38416·n·p·(1e6−p)`. One scan, 9 metadata
    * rows; a uniform synthetic price book legitimately FAILS Benford —
    * the flags are the audit, not a tautology. */
  val q161BenfordAudit: QuerySpec = QuerySpec(
    "q161_benford_audit", {
      val ppmCase = BenfordPpm.zipWithIndex.map { case (p, i) =>
        s"WHEN '${i + 1}' THEN ${p}" }.mkString(" ")
      s"""WITH c AS (
        |  SELECT substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
        |  FROM c GROUP BY digit),
        |e AS (SELECT digit, n_obs,
        |    CAST(CASE digit $ppmCase END AS BIGINT) AS expected_ppm
        |  FROM o)
        |SELECT digit, n_obs, expected_ppm,
        |  (CAST(1000000 AS HUGEINT) * n_obs - CAST(n AS HUGEINT)
        |      * expected_ppm)
        |    * (CAST(1000000 AS HUGEINT) * n_obs - CAST(n AS HUGEINT)
        |      * expected_ppm) * 10000
        |  <= CAST(38416 AS HUGEINT) * n * expected_ppm
        |    * (1000000 - expected_ppm) AS within_95
        |FROM e, s ORDER BY digit""".stripMargin
    }) { (s, dir) =>
    benfordAudit(Tables.orders(s, dir).select(col("o_totalprice").as("value")))
  }

  /** The q161 operator on any positive (value) frame. */
  def benfordAudit(values: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val c = values.filter(col("value") > 0).select(
      substring(floor(col("value") * 100 + lit(0.5)).cast("long")
        .cast("string"), 1, 1).as("digit"))
    val ppm = BenfordPpm.zipWithIndex
      .foldLeft(lit(null).cast("long")) { case (acc, (p, i)) =>
        when(col("digit") === lit(s"${i + 1}"), lit(p)).otherwise(acc) }
    // n rides the digit aggregate with an unbounded window over the ≤9
    // metadata rows — no second corpus scan for the total
    val wAll = Window.orderBy("digit")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    c.groupBy("digit").agg(count(lit(1)).as("n_obs"))
      .withColumn("n", sum(col("n_obs")).over(wAll))
      .withColumn("expected_ppm", ppm)
      .select(col("digit"), col("n_obs"), col("expected_ppm"),
        ((d38(lit(1000000)) * col("n_obs") - d38(col("n"))
            * col("expected_ppm"))
          * (d38(lit(1000000)) * col("n_obs") - d38(col("n"))
            * col("expected_ppm")) * 10000
          <= d38(lit(38416)) * col("n") * col("expected_ppm")
            * (lit(1000000) - col("expected_ppm"))).as("within_95"))
      .orderBy("digit")
  }

  /** q164: EXACT Gini concentration index per source — "is one slice of
    * the corpus hoarding the tokens?" (a Gini near 0 = balanced doc
    * sizes, near 1 = a few giants carry everything; the
    * curriculum/mixture diagnostic next to q61's share table). Computed
    * from domain-bounded value BINS, never a per-row sort: a run of m
    * equal values v with c₀ predecessors contributes
    * `v·(2·m·c₀ + m² + m)` to 2·Σi·x₍ᵢ₎, so one (g, v) aggregate + one
    * per-group metadata window + one fold yield the exact integer pair
    * `gini_num = 2Σi·x − (n+1)Σx`, `gini_den = n·Σx` (plus the floor
    * `gini_ppm` both engines derive identically — no float division).
    * DECIMAL(38,0)/HUGEINT products per the q153 discipline. */
  val q164GiniConcentration: QuerySpec = QuerySpec(
    "q164_gini_concentration",
    """WITH bins AS (
      |  SELECT source AS g, n_chars AS v, CAST(count(*) AS BIGINT) AS m
      |  FROM documents GROUP BY 1, 2),
      |w AS (SELECT g, v, m,
      |  CAST(sum(m) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum
      |  FROM bins),
      |t AS (SELECT g, CAST(sum(m) AS BIGINT) AS n,
      |    sum(CAST(v AS HUGEINT) * m) AS sx,
      |    sum(CAST(v AS HUGEINT)
      |      * (2 * CAST(m AS HUGEINT) * (cum - m)
      |        + CAST(m AS HUGEINT) * m + m)) AS two_sum
      |  FROM w GROUP BY g)
      |SELECT g AS source, n AS n_docs,
      |  CAST(two_sum - (n + 1) * sx AS BIGINT) AS gini_num,
      |  CAST(CAST(n AS HUGEINT) * sx AS BIGINT) AS gini_den,
      |  CAST((two_sum - (n + 1) * sx) * 1000000
      |    // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_ppm
      |FROM t ORDER BY source""".stripMargin) { (s, dir) =>
    giniConcentration(Tables.documents(s, dir)
      .select(col("source").as("g"), col("n_chars").as("v")))
  }

  /** The q164 operator on any non-negative (g, v) frame. */
  def giniConcentration(vals: org.apache.spark.sql.DataFrame,
      maxBins: Long = MaxBinsStateRows): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val bins = vals.groupBy("g", "v").agg(count(lit(1)).as("m"))
    val w = Window.partitionBy("g").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("g")
    val cum = bins.withColumn("cum", sum(col("m")).over(w))
      .withColumn("__nb", count(lit(1)).over(wTot))
    val t = cum.groupBy("g").agg(
      sum(col("m")).as("n"),
      sum(d38(col("v")) * col("m")).as("sx"),
      sum(d38(col("v")) * (lit(2) * d38(col("m")) * (col("cum") - col("m"))
        + d38(col("m")) * col("m") + col("m"))).as("two_sum"),
      max(col("__nb")).as("__nb"))
    t.select(col("g").as("source"), col("n").as("n_docs"),
        (col("two_sum") - (d38(col("n")) + 1) * col("sx")).as("num_dec"),
        (d38(col("n")) * col("sx")).as("den_dec"), col("__nb"))
      .select(col("source"), col("n_docs"),
        col("num_dec").cast("long").as("gini_num"),
        col("den_dec").cast("long").as("gini_den"),
        binsGuard(col("__nb"),
          expr("CAST((num_dec * 1000000) div den_dec AS LONG)"),
          "giniConcentration", maxBins).as("gini_ppm"))
      .orderBy("source")
  }

  /** q166: percentile-rank transform of EVERY row — the quantile
    * normalization a feature pipeline wants (rank-based features are
    * immune to units and outliers) WITHOUT the global sort `rank()`
    * implies: the value histogram is domain-bounded metadata
    * ([[medianBins]] class), so cum counts + the doubled midrank
    * `2·cum_lt + m + 1` compute on bins alone and map back to rows by a
    * BROADCAST join — the corpus is scanned twice (bins, map-back) and
    * never range-partitioned. Midrank is doubled to stay integer under
    * ties; `prank_ppm = floor(1e6·dmid / 2n)` is the floor-div both
    * engines share. The oracle spells the same transform AS the global
    * sort (`rank()` + tie counts) — affordable at gate scale, which is
    * what proves the bins path exact. */
  val q166PercentileRank: QuerySpec = QuerySpec(
    "q166_percentile_rank",
    """WITH c AS (
      |  SELECT event_id,
      |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |r AS (SELECT event_id, v,
      |  CAST(rank() OVER (ORDER BY v) AS BIGINT) AS rk,
      |  CAST(count(*) OVER (PARTITION BY v) AS BIGINT) AS m,
      |  CAST(count(*) OVER () AS BIGINT) AS n
      |  FROM c)
      |SELECT event_id,
      |  CAST((CAST(2 AS HUGEINT) * (rk - 1) + m + 1) * 1000000
      |    // (2 * CAST(n AS HUGEINT)) AS BIGINT) AS prank_ppm
      |FROM r ORDER BY event_id""".stripMargin) { (s, dir) =>
    percentileRank(Tables.events(s, dir)
      .select(col("event_id"),
        floor(col("value") * 1e6 + lit(0.5)).cast("long").as("v")))
  }

  /** The q166 operator on any (event_id, v) frame. */
  def percentileRank(c: org.apache.spark.sql.DataFrame,
      maxBins: Long = MaxBinsStateRows): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // the guard evaluates at BINS cardinality (once per distinct value,
    // pre-join), not once per corpus row — on healthy data it's noise,
    // and an unhealthy bins frame fails before it fans out
    val bins = c.groupBy("v").agg(count(lit(1)).as("m"))
      .withColumn("cum", sum(col("m")).over(w))
      .withColumn("n", sum(col("m")).over(wAll))
      .withColumn("__nb", count(lit(1)).over(wAll))
      .select(col("v"),
        binsGuard(col("__nb"),
          lit(2L) * (col("cum") - col("m")) + col("m") + 1,
          "percentileRank", maxBins).as("dmid"),
        col("n"))
    c.join(broadcast(bins), "v")
      .select(col("event_id"),
        expr("CAST((CAST(dmid AS DECIMAL(38,0)) * 1000000) " +
          "div (2 * CAST(n AS DECIMAL(38,0))) AS LONG)").as("prank_ppm"))
      .orderBy("event_id")
  }

  /** The q168 audit for ONE candidate dependency key → dep: a key
    * violates when its rows disagree on dep; the repair cost (rows to
    * fix) is `Σ_k (rows_k − mode_k)` — two nested aggregates, both
    * map-side combinable, no join. */
  def fdAudit(df: org.apache.spark.sql.DataFrame, fdName: String,
      keyCol: String, depCol: String): org.apache.spark.sql.DataFrame =
    df.groupBy(col(keyCol).as("k"), col(depCol).as("d"))
      .agg(count(lit(1)).as("c"))
      .groupBy("k")
      .agg(sum(col("c")).as("t"), max(col("c")).as("mx"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("mx") < col("t"), 1L).otherwise(0L))
          .as("n_violating_keys"),
        sum(col("t") - col("mx")).as("n_violating_rows"))
      .select(lit(fdName).as("fd"), col("n_keys"), col("n_violating_keys"),
        col("n_violating_rows"),
        (col("n_violating_keys") === 0).as("holds"))

  /** q168: functional-dependency audit — schema archaeology for data
    * someone else produced: does `key → dep` actually hold, and if not,
    * how expensive is the repair? Per candidate FD, `violating_rows =
    * Σ_k (rows_k − mode_k)` is exactly the minimum number of rows a
    * repair must touch. Two stacked hash aggregates per FD (both
    * map-side combinable), no joins, no sorts — the same cost as the
    * group-by the consumer was going to run anyway. One true FD
    * (orderkey → custkey THROUGH the orders table) anchors the audit;
    * two plausible-but-false FDs measure their repair distance. */
  val q168FdAudit: QuerySpec = QuerySpec(
    "q168_fd_audit", {
      def block(name: String, table: String, k: String, d: String) =
        s"""SELECT '$name' AS fd, CAST(count(*) AS BIGINT) AS n_keys,
          |  CAST(sum(CASE WHEN mx < t THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_violating_keys,
          |  CAST(sum(t - mx) AS BIGINT) AS n_violating_rows,
          |  (sum(CASE WHEN mx < t THEN 1 ELSE 0 END) = 0) AS holds
          |FROM (
          |  SELECT k, CAST(sum(c) AS BIGINT) AS t,
          |    CAST(max(c) AS BIGINT) AS mx
          |  FROM (SELECT $k AS k, $d AS d, count(*) AS c
          |    FROM $table GROUP BY 1, 2) g GROUP BY k) a""".stripMargin
      Seq(
        block("orderkey->custkey", "orders", "o_orderkey", "o_custkey"),
        block("orderkey->returnflag", "lineitem", "l_orderkey",
          "l_returnflag"),
        block("partkey->linestatus", "lineitem", "l_partkey", "l_linestatus"))
        .mkString("\nUNION ALL\n") + "\nORDER BY fd"
    }) { (s, dir) =>
    fdAudit(Tables.orders(s, dir), "orderkey->custkey",
        "o_orderkey", "o_custkey")
      .unionByName(fdAudit(Tables.lineitem(s, dir),
        "orderkey->returnflag", "l_orderkey", "l_returnflag"))
      .unionByName(fdAudit(Tables.lineitem(s, dir),
        "partkey->linestatus", "l_partkey", "l_linestatus"))
      .orderBy("fd")
  }

  /** Poisson(1) inverse-CDF thresholds on an 8-BIT uniform draw
    * (round(cum(e⁻¹/k!)·256)): a byte below threshold k gets resample
    * weight k, tail truncated at 5 (P≈0.4%). The coarse draw biases the
    * weight SCALE by ~0.2%, which the ratio estimator Σw·x/Σw is
    * invariant to — and one 32-hex md5 yields SIXTEEN byte draws, so 32
    * resamples cost 2 hashes per row instead of 32 (the hash dominates
    * the per-row cost; measured 2.5x on q169). */
  private val PoissonByte = Seq(94L, 188L, 235L, 251L, 255L)
  private val BootstrapB = 32

  /** q169: ONE-PASS Poisson bootstrap CI for the mean — the
    * distribution-free error bar a profile wants next to its point
    * estimate, at corpus scale where "resample n rows B times" is
    * B extra shuffles: Poisson(1) weights make every resample a
    * per-row WEIGHT, not a row draw, so all B resamples reduce in one
    * aggregate pass (2B running sums, codegen-friendly). Weights are
    * md5-derived (the q64/q154 determinism class) through the shared
    * [[graft.ext.Sampling.hashBucket]] spelling, so both engines build
    * bit-identical resamples; the CI is the [2nd, 31st] order statistic
    * of the 32 floor-scaled resample means (a ~94% interval), resolved
    * on 32 METADATA rows. DECIMAL(38,0) keeps sum·1e6 exact past the
    * BIGINT edge a 9x corpus already crosses. */
  val q169BootstrapCi: QuerySpec = QuerySpec(
    "q169_bootstrap_ci", {
      // hex → long ONCE per 15-hex chunk (60 bits = 7 byte draws), then
      // byte extraction is pure bit arithmetic — 3 hashes + 5 decodes
      // per row for all 32 resamples instead of 32 string slices
      val hDefs = (0 to (BootstrapB - 1) / 14)
        .map(j => s"md5('boot$j:' || CAST(o_orderkey AS VARCHAR)) AS h$j")
        .mkString(",\n      |    ")
      val lDefs = (0 to (BootstrapB - 1) / 7).map { jg =>
        val off = if (jg % 2 == 0) 1 else 17
        s"CAST(('0x' || substr(h${jg / 2}, $off, 15)) AS BIGINT) AS l$jg"
      }.mkString(",\n      |    ")
      def wSql(b: Int): String = {
        val u = s"((l${b / 7} >> ${8 * (b % 7)}) & 255)"
        PoissonByte.zipWithIndex
          .map { case (t, k) => s"WHEN $u < $t THEN $k" }
          .mkString("CASE ", " ", s" ELSE ${PoissonByte.size} END")
      }
      val wDefs = (0 until BootstrapB)
        .map(b => s"${wSql(b)} AS w$b").mkString(",\n      |    ")
      val aggDefs = (0 until BootstrapB).map(b =>
        s"CAST(sum(w$b) AS BIGINT) AS n$b, " +
          s"CAST(sum(CAST(w$b AS HUGEINT) * cents) AS HUGEINT) AS s$b")
        .mkString(",\n      |    ")
      val branches = (0 until BootstrapB).map(b =>
        s"SELECT $b AS rid, n$b AS n_rows, s$b AS sum_cents, " +
          "full_n, full_sum FROM a").mkString("\nUNION ALL\n")
      s"""WITH h AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    $hDefs
        |  FROM orders),
        |l AS (
        |  SELECT cents,
        |    $lDefs
        |  FROM h),
        |c AS (
        |  SELECT cents,
        |    $wDefs
        |  FROM l),
        |a AS (SELECT
        |    $aggDefs,
        |    CAST(count(*) AS BIGINT) AS full_n,
        |    CAST(sum(cents) AS HUGEINT) AS full_sum
        |  FROM c),
        |m AS ($branches),
        |r AS (SELECT rid, full_n, full_sum,
        |  CAST(sum_cents * 1000000 // n_rows AS BIGINT) AS mean_scaled
        |  FROM m),
        |o AS (SELECT full_n, full_sum, mean_scaled,
        |  row_number() OVER (ORDER BY mean_scaled) AS rk FROM r)
        |SELECT CAST(count(*) AS BIGINT) AS n_resamples,
        |  max(full_n) AS full_n,
        |  CAST(max(full_sum) * 1000000 // max(full_n) AS BIGINT)
        |    AS full_mean_scaled,
        |  max(CASE WHEN rk = 2 THEN mean_scaled END) AS ci_lo_scaled,
        |  max(CASE WHEN rk = ${BootstrapB - 1} THEN mean_scaled END)
        |    AS ci_hi_scaled,
        |  (max(CASE WHEN rk = 2 THEN mean_scaled END)
        |      <= max(full_sum) * 1000000 // max(full_n)
        |    AND max(full_sum) * 1000000 // max(full_n)
        |      <= max(CASE WHEN rk = ${BootstrapB - 1} THEN mean_scaled END))
        |    AS ci_contains_full
        |FROM o""".stripMargin
    }) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // hex → long once per 15-hex chunk; byte draws by shift/mask so the
    // 32 weight chains are pure integer arithmetic per row
    val h = Tables.orders(s, dir).select(
      (floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents")
        +: (0 to (BootstrapB - 1) / 14).map(j =>
          md5(concat(lit(s"boot$j:"), col("o_orderkey").cast("string")))
            .as(s"h$j"))): _*)
    val ls = h.select(
      (col("cents") +: (0 to (BootstrapB - 1) / 7).map { jg =>
        val off = if (jg % 2 == 0) 1 else 17
        conv(substring(col(s"h${jg / 2}"), off, 15), 16, 10)
          .cast("long").as(s"l$jg")
      }): _*)
    def wChain(b: Int): Column = {
      val u = expr(s"(l${b / 7} >> ${8 * (b % 7)}) & 255")
      val first = when(u < PoissonByte.head, 0L)
      PoissonByte.tail.zipWithIndex
        .foldLeft(first) { case (acc, (t, i)) => acc.when(u < t, i + 1L) }
        .otherwise(PoissonByte.size.toLong)
    }
    val c = ls.select(
      (col("cents") +: (0 until BootstrapB).map(b => wChain(b).as(s"w$b"))): _*)
    // LONG accumulators (codegen'd) — weight ≤ 5 × 5e7 cents leaves
    // ~3e10 headroom per row, exact to ~10^12 rows; past that,
    // downscale units before summing (the q139 finalizer note). The
    // DECIMAL promotion happens on the 32 METADATA rows only.
    val aggCols = (0 until BootstrapB).flatMap(b => Seq(
        sum(col(s"w$b")).as(s"n$b"),
        sum(col(s"w$b") * col("cents")).as(s"s$b"))) ++
      Seq(count(lit(1)).as("full_n"), sum(col("cents")).as("full_sum"))
    val a = c.agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = (0 until BootstrapB)
      .map(b => s"$b, n$b, s$b").mkString(", ")
    val stacked = a.select(
      expr(s"stack($BootstrapB, $stackArgs) AS (rid, n_rows, sum_cents)"),
      col("full_n"), col("full_sum"))
    val ranked = stacked
      .withColumn("mean_scaled",
        expr("CAST((CAST(sum_cents AS DECIMAL(38,0)) * 1000000) div n_rows AS LONG)"))
      .withColumn("rk", row_number().over(Window.orderBy("mean_scaled")))
    ranked.agg(
        count(lit(1)).as("n_resamples"),
        max(col("full_n")).as("full_n"),
        max(col("full_sum")).as("__fs"),
        max(when(col("rk") === 2, col("mean_scaled"))).as("ci_lo_scaled"),
        max(when(col("rk") === BootstrapB - 1, col("mean_scaled")))
          .as("ci_hi_scaled"))
      .withColumn("full_mean_scaled",
        expr("CAST((CAST(__fs AS DECIMAL(38,0)) * 1000000) div full_n AS LONG)"))
      .select(col("n_resamples"), col("full_n"), col("full_mean_scaled"),
        col("ci_lo_scaled"), col("ci_hi_scaled"),
        (col("ci_lo_scaled") <= col("full_mean_scaled") &&
          col("full_mean_scaled") <= col("ci_hi_scaled"))
          .as("ci_contains_full"))
  }

  /** q173: grouped boxplot — the five-number profile plus Tukey-fence
    * outlier counts, the chart every data reviewer asks for first: p25/
    * p50/p75 are EXACT lower order statistics through ONE shared
    * [[bucketedQuantileSelect]] histogram pass (all three ranks from the
    * same pass-1, the q136 property), fences are the exact integers
    * `q1 − 1.5·IQR` / `q3 + 1.5·IQR` computed as `(5·q1 − 3·q3) div 2` /
    * `(5·q3 − 3·q1) div 2` (no float 1.5 anywhere), and one broadcast
    * conditional aggregate counts the outliers. The Tukey twin of
    * q156's MAD rule — IQR fences are the convention dashboards expect,
    * MAD is the stricter contamination-proof rule; both are exact. */
  val q173Boxplot: QuerySpec = QuerySpec(
    "q173_boxplot",
    """WITH c AS (
      |  SELECT event_type AS g,
      |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY g),
      |r AS (SELECT g, v,
      |  row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM c),
      |q AS (SELECT r.g, s.n,
      |    max(CASE WHEN rn = (n + 3) // 4 THEN v END) AS q1,
      |    max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS q2,
      |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS q3
      |  FROM r JOIN s USING (g) GROUP BY r.g, s.n),
      |f AS (SELECT g, n, q1, q2, q3,
      |    (5 * q1 - 3 * q3) // 2 AS lo_fence,
      |    (5 * q3 - 3 * q1) // 2 AS hi_fence
      |  FROM q)
      |SELECT c.g AS event_type, max(f.n) AS n,
      |  max(q1) AS q1_micro, max(q2) AS q2_micro, max(q3) AS q3_micro,
      |  max(lo_fence) AS lo_fence, max(hi_fence) AS hi_fence,
      |  CAST(sum(CASE WHEN c.v < f.lo_fence OR c.v > f.hi_fence
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM c JOIN f ON c.g = f.g
      |GROUP BY c.g ORDER BY event_type""".stripMargin) { (s, dir) =>
    boxplot(Tables.events(s, dir))
  }

  /** The q173 operator on any (event_type, value) frame. */
  def boxplot(events: org.apache.spark.sql.DataFrame,
      bigBucket: Long = BigBucketRows): org.apache.spark.sql.DataFrame = {
    val vals = eventMicroVals(events)
    val qs = bucketedQuantileSelect(vals,
        Seq(("q1", 1L, 4L), ("q2", 1L, 2L), ("q3", 3L, 4L)),
        GroupMedianBuckets, bigBucket)
      .groupBy("g").agg(max(col("n")).as("n"),
        max(when(col("q") === "q1", col("v"))).as("q1"),
        max(when(col("q") === "q2", col("v"))).as("q2"),
        max(when(col("q") === "q3", col("v"))).as("q3"))
      // arithmetic >> 1 = FLOOR division by 2, matching DuckDB's `//`
      // when the low fence goes negative (`div` truncates toward zero)
      .withColumn("lo_fence", expr("(5 * q1 - 3 * q3) >> 1"))
      .withColumn("hi_fence", expr("(5 * q3 - 3 * q1) >> 1"))
    vals.join(broadcast(qs), "g")
      .groupBy(col("g").as("event_type"))
      .agg(max(col("n")).as("n"),
        max(col("q1")).as("q1_micro"), max(col("q2")).as("q2_micro"),
        max(col("q3")).as("q3_micro"),
        max(col("lo_fence")).as("lo_fence"),
        max(col("hi_fence")).as("hi_fence"),
        sum(when(col("v") < col("lo_fence") ||
          col("v") > col("hi_fence"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** q177: WEIGHTED grouped quartiles — the full profile the weighted
    * engine exists for: quantity-weighted p25/p50/p75 of price per
    * return flag, i.e. "what does the 25th/50th/75th percentile UNIT
    * (not line) cost?" All three cut points resolve through ONE
    * [[weightedQuantileSelect]] weighted-histogram pass; the oracle
    * spells the same crossing rule over per-value cumulative weights.
    * Generalizes q163 (median) the way q136 generalized q135. */
  val q177WeightedQuantiles: QuerySpec = QuerySpec(
    "q177_weighted_quantiles",
    """WITH c AS (
      |  SELECT l_returnflag AS g,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
      |    CAST(l_quantity AS BIGINT) AS wt
      |  FROM lineitem),
      |s AS (SELECT g, CAST(sum(wt) AS BIGINT) AS wtot FROM c GROUP BY g),
      |ks AS (
      |  SELECT g, 'p25' AS q, CAST((wtot + 3) // 4 AS BIGINT) AS k,
      |    wtot FROM s
      |  UNION ALL
      |  SELECT g, 'p50', CAST((wtot + 1) // 2 AS BIGINT), wtot FROM s
      |  UNION ALL
      |  SELECT g, 'p75', CAST((3 * wtot + 3) // 4 AS BIGINT), wtot FROM s),
      |bins AS (SELECT g, v, CAST(sum(wt) AS BIGINT) AS bw
      |  FROM c GROUP BY g, v),
      |r AS (SELECT g, v,
      |  sum(bw) OVER (PARTITION BY g ORDER BY v) AS cw FROM bins)
      |SELECT r.g AS returnflag, ks.q AS quantile, ks.wtot AS w_total,
      |  ks.k, CAST(min(v) AS BIGINT) AS value_cents
      |FROM r JOIN ks ON r.g = ks.g AND r.cw >= ks.k
      |GROUP BY 1, 2, 3, 4
      |ORDER BY returnflag, quantile""".stripMargin) { (s, dir) =>
    val vals = Tables.lineitem(s, dir).select(
      col("l_returnflag").as("g"),
      floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long").as("v"),
      col("l_quantity").cast("long").as("wt"))
    weightedQuantileSelect(vals,
        Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p75", 3L, 4L)),
        GroupMedianBuckets, BigBucketRows)
      .select(col("g").as("returnflag"), col("q").as("quantile"),
        col("wtot").as("w_total"), col("k"), col("v").as("value_cents"))
      .orderBy("returnflag", "quantile")
  }

  /** q178: effective sample size of a weighted corpus — what a
    * DSIR/importance-weighted dataset (q122's weights) is actually
    * WORTH in unweighted examples: `ESS = (Σw)²/Σw²` collapses toward
    * 1 as a few giant weights dominate (training on such a mix sees
    * far fewer effective documents than its row count claims). ONE
    * map-side-combined aggregate per group; `ess_ratio_ppm =
    * ⌊1e6·(Σw)²/(n·Σw²)⌋` is the floor-div rational both engines share
    * (DECIMAL(38,0)/HUGEINT — (Σw)² crosses BIGINT early). Weights
    * here: n_chars per document (size-weighted corpus mixing). */
  val q178EffectiveSampleSize: QuerySpec = QuerySpec(
    "q178_effective_sample_size",
    """WITH c AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS w FROM documents),
      |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(w) AS BIGINT) AS sum_w,
      |    CAST(sum(CAST(w AS HUGEINT) * w) AS BIGINT) AS sum_w2
      |  FROM c GROUP BY source)
      |SELECT source, n, sum_w, sum_w2,
      |  CAST(CAST(sum_w AS HUGEINT) * sum_w // sum_w2 AS BIGINT)
      |    AS ess_rows,
      |  CAST(1000000 * CAST(sum_w AS HUGEINT) * sum_w
      |    // (CAST(n AS HUGEINT) * sum_w2) AS BIGINT) AS ess_ratio_ppm
      |FROM a ORDER BY source""".stripMargin) { (s, dir) =>
    effectiveSampleSize(Tables.documents(s, dir)
      .select(col("source").as("g"), col("n_chars").cast("long").as("w")))
  }

  /** The q178 operator on any positive-weight (g, w) frame. */
  def effectiveSampleSize(vals: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    vals.groupBy(col("g").as("source"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sum_w"),
        sum(d38(col("w")) * col("w")).cast("long").as("sum_w2"))
      .select(col("source"), col("n"), col("sum_w"), col("sum_w2"),
        expr("CAST((CAST(sum_w AS DECIMAL(38,0)) * sum_w) div sum_w2" +
          " AS LONG)").as("ess_rows"),
        expr("CAST((1000000 * CAST(sum_w AS DECIMAL(38,0)) * sum_w) div" +
          " (CAST(n AS DECIMAL(38,0)) * sum_w2) AS LONG)")
          .as("ess_ratio_ppm"))
      .orderBy("source")
  }

  /** q179: Wald–Wolfowitz runs test — IS THE STREAM SHUFFLED? A batch
    * pipeline that emits value-sorted or value-batched rows breaks
    * every "random split by position" assumption downstream; the runs
    * test catches it nonparametrically: rows above/below the per-group
    * EXACT median (shared rank selection; ties-to-median dropped, the
    * standard treatment) should alternate like coin flips in arrival
    * order — too FEW runs = serial correlation / batching, too many =
    * oscillation. Decision in exact integers: with a=above, b=below,
    * n=a+b, R runs, reject when `(R·n − 2ab − n)²·(n−1)·10⁴ >
    * 38416·2ab·(2ab − n)` (the z² form cross-multiplied;
    * DECIMAL(38,0)/HUGEINT). One exchange + one lag window + one
    * aggregate on top of the median pass. */
  val q179RunsTest: QuerySpec = QuerySpec(
    "q179_runs_test",
    """WITH c AS (
      |  SELECT event_type AS g, event_id,
      |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |s AS (SELECT g, CAST(count(*) AS BIGINT) AS nn,
      |    CAST(ceil(count(*) / 2.0) AS BIGINT) AS k FROM c GROUP BY g),
      |r AS (SELECT g, v,
      |  row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM c),
      |med AS (SELECT r.g, v AS med FROM r JOIN s
      |  ON r.g = s.g AND r.rn = s.k),
      |signs AS (
      |  SELECT c.g, event_id,
      |    CASE WHEN v > med THEN 1 ELSE 0 END AS up
      |  FROM c JOIN med ON c.g = med.g WHERE v <> med),
      |runs AS (SELECT g, up,
      |  CASE WHEN lag(up) OVER (PARTITION BY g ORDER BY event_id)
      |    IS DISTINCT FROM up THEN 1 ELSE 0 END AS boundary
      |  FROM signs),
      |t AS (SELECT g, CAST(sum(up) AS BIGINT) AS a,
      |    CAST(sum(1 - up) AS BIGINT) AS b,
      |    CAST(sum(boundary) AS BIGINT) AS r_runs
      |  FROM runs GROUP BY g)
      |SELECT g AS event_type, a, b, r_runs,
      |  (CAST(r_runs AS HUGEINT) * (a + b) - 2 * CAST(a AS HUGEINT) * b
      |      - (a + b))
      |    * (CAST(r_runs AS HUGEINT) * (a + b) - 2 * CAST(a AS HUGEINT) * b
      |      - (a + b))
      |    * ((a + b) - 1) * 10000
      |  > CAST(38416 AS HUGEINT) * 2 * a * b
      |    * (2 * CAST(a AS HUGEINT) * b - (a + b)) AS reject_05
      |FROM t ORDER BY event_type""".stripMargin) { (s, dir) =>
    runsTest(graft.Tables.events(s, dir))
  }

  /** The q179 operator on any (event_type, event_id, value) frame. */
  def runsTest(events: org.apache.spark.sql.DataFrame,
      bigBucket: Long = BigBucketRows): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val vals = events.select(col("event_type").as("g"), col("event_id"),
      floor(col("value") * 1e6 + lit(0.5)).cast("long").as("v"))
    val med = bucketedQuantileSelect(vals.select("g", "v"),
        Seq(("p50", 1L, 2L)), GroupMedianBuckets, bigBucket)
      .select(col("g"), col("v").as("med"))
    val w = Window.partitionBy("g").orderBy("event_id")
    val signs = vals.join(broadcast(med), "g")
      .filter(col("v") =!= col("med"))
      .select(col("g"), col("event_id"),
        when(col("v") > col("med"), 1L).otherwise(0L).as("up"))
    val t = signs
      .withColumn("boundary",
        when(lag(col("up"), 1).over(w).isNull ||
          lag(col("up"), 1).over(w) =!= col("up"), 1L).otherwise(0L))
      .groupBy("g")
      .agg(sum(col("up")).as("a"), sum(lit(1L) - col("up")).as("b"),
        sum(col("boundary")).as("r_runs"))
    val n = col("a") + col("b")
    val num = d38(col("r_runs")) * n - lit(2) * d38(col("a")) * col("b") - n
    t.select(col("g").as("event_type"), col("a"), col("b"), col("r_runs"),
        (num * num * (n - 1) * 10000 >
          d38(lit(38416)) * 2 * col("a") * col("b") *
            (lit(2) * d38(col("a")) * col("b") - n)).as("reject_05"))
      .orderBy("event_type")
  }

  val all: Seq[QuerySpec] = Seq(
    q15FieldProfile, q16MissingMap, q17RevenueSummary, q18NumericSummary,
    q19TopProducts, q20DbStats, q47ApproxProfile, q57GroupedPercentiles,
    q59ApproxProfileOrders, q127KeySkew, q132CorrMatrix, q133ChiSquare,
    q134ExactMedian, q135GroupedMedian, q136GroupedQuantiles,
    q137PercentilesScalable, q138ZoneMap, q142JoinSizeProbe,
    q155WinsorizedMean, q156MadOutliers, q158KsDrift, q159MannWhitney,
    q160EquiDepthHist, q161BenfordAudit, q163WeightedMedian,
    q164GiniConcentration, q166PercentileRank, q168FdAudit,
    q169BootstrapCi, q173Boxplot, q177WeightedQuantiles,
    q178EffectiveSampleSize, q179RunsTest)
}
