package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cleaning stage (ref `DataCleaner.clean_data`,
  * `src/transformation.py:27-100`): full-row dedup → keep-first key dedup →
  * type repair → text cleaning → missing-value imputation → invalid-record
  * removal, in the reference's order.
  *
  * Each step is a pure `DataFrame => DataFrame` that only touches columns
  * that exist (the reference guards each op with `if field in data.columns`),
  * so the stage composes over any source schema. One Catalyst plan — no
  * materialization between steps; the only shuffle is the keyed dedup
  * window.
  */
object Clean {

  final val CriticalFields = Seq("order_id", "product", "price")
  final val NumericFields = Seq("quantity", "price", "total_amount", "discount")
  final val DateFields = Seq("order_date", "ingested_at")

  private def has(df: DataFrame, c: String): Boolean = df.columns.contains(c)

  /** `drop_duplicates()` (`src/transformation.py:54-62`). */
  def dedupFull(df: DataFrame): DataFrame = df.dropDuplicates()

  /** Deterministic keep-first `drop_duplicates(subset=[key], keep='first')`
    * (`src/transformation.py:64-73`): earliest `orderCol`, ties broken by
    * every remaining column, so the pick is a total order.
    *
    * Runs through the native [[graft.plans.KeepFirstExec]] operator: one
    * hash exchange on the key, ONE sort by (key, tiebreak…, rest…), and a
    * streaming first-of-run pass — versus the two full-width sorts both
    * the window form and the min-struct aggregate form pay (row_number
    * needs a partial+final sorted WindowGroupLimit; min over a struct has
    * no fixed-width buffer so both aggregate phases plan as
    * SortAggregate). This is the one production keep-first form. Pick
    * equivalence to `min(struct(tiebreak…, rest…))` per key is pinned by
    * KeepFirstNativeSpec's differential against an aggregate reference
    * in the test tree, and by the q11/q13 oracles. */
  def dedupKeepFirst(df: DataFrame, key: String = "order_id",
      orderCols: Seq[String] = KeepFirstTiebreak): DataFrame = {
    if (!has(df, key)) df
    else {
      val tiebreak = orderCols.filter(has(df, _))
      val rest = df.columns.filterNot(c => c == key || tiebreak.contains(c))
      graft.operators.KeepFirst.native(df, Seq(key), tiebreak ++ rest)
    }
  }

  /** Arrival column first, then enough canonical columns for a total order
    * among true duplicates-by-key. */
  final val KeepFirstTiebreak = Seq(
    "ingested_at", "price", "quantity", "discount", "product",
    "customer_name", "customer_email", "product_category", "source",
    "order_date", "api_post_id", "total_amount")

  /** Type repair: `pd.to_numeric/to_datetime(errors='coerce')`
    * (`src/transformation.py:112-144`) — null-on-unparseable, which is
    * exactly Spark's `try_cast`. */
  def repairTypes(df: DataFrame): DataFrame = {
    val withNums = NumericFields.filter(has(df, _)).foldLeft(df) { (d, f) =>
      d.withColumn(f, expr(s"try_cast($f AS DOUBLE)"))
    }
    DateFields.filter(has(withNums, _)).foldLeft(withNums) { (d, f) =>
      d.withColumn(f, expr(s"try_cast($f AS TIMESTAMP)"))
    }
  }

  /** Text cleaning (`src/transformation.py:150-175`): names trimmed +
    * title-cased, product trimmed, email lower+trim, source lower+trim. */
  def cleanText(df: DataFrame): DataFrame = {
    val steps: Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)] = Seq(
      "customer_name" -> (c => initcap(trim(c))),
      "product" -> (c => trim(c)),
      "customer_email" -> (c => lower(trim(c))),
      "source" -> (c => lower(trim(c))))
    steps.foldLeft(df) { case (d, (f, fn)) =>
      if (has(d, f)) d.withColumn(f, fn(col(f))) else d
    }
  }

  /** Missing-value imputation (`src/transformation.py:181-199`):
    * quantity→1, discount→0.0, customer_name→'Unknown Customer'. */
  def imputeMissing(df: DataFrame): DataFrame = {
    val fills = Map[String, Any](
      "quantity" -> 1.0, "discount" -> 0.0,
      "customer_name" -> "Unknown Customer")
      .filter { case (k, _) => has(df, k) }
    if (fills.isEmpty) df else df.na.fill(fills)
  }

  /** Invalid-record removal (`src/transformation.py:205-229`): critical
    * fields non-null, price > 0, quantity > 0. These predicates sit
    * directly above the scan so Catalyst pushes them into the parquet
    * reader. */
  def removeInvalid(df: DataFrame): DataFrame = {
    val critical = CriticalFields.filter(has(df, _))
    val d1 = if (critical.nonEmpty) df.na.drop(critical) else df
    val d2 = if (has(d1, "price")) d1.filter(col("price") > 0) else d1
    if (has(d2, "quantity")) d2.filter(col("quantity") > 0) else d2
  }

  /** Full stage in the reference's order.
    *
    * Shuffle fusion: the reference runs full-row dedup then keyed
    * keep-first (`transformation.py:54-73`) — two passes. With a TOTAL
    * tiebreak order, the keep-first window already collapses identical
    * rows to the same deterministic pick, so running it alone produces
    * the same output with one exchange instead of two (hash-agg exchange
    * + window exchange). `dedupFull` remains the standalone D2 operator
    * (q07). Equivalence is pinned by the q11/q13 oracle and
    * PropertySpec's stability law. */
  def apply(df: DataFrame): DataFrame = {
    // keyless frames still get the reference's unconditional full-row
    // dedup — the fusion argument only covers frames with the key
    val deduped =
      if (has(df, "order_id")) dedupKeepFirst(df) else dedupFull(df)
    removeInvalid(imputeMissing(cleanText(repairTypes(deduped))))
  }

  /** Oracle CTE chain reproducing [[apply]] over `dirty_domain`
    * (keep-first dedup is a no-op on unique order_ids but is still encoded
    * so plans stay honest). NOTE: DuckDB 1.0 has no initcap; c_name is
    * single-token so upper-first-char emulation is exact here. */
  final val OracleCte: String =
    """cleaned AS (
      |  SELECT
      |    order_id,
      |    COALESCE(
      |      upper(substr(trim(customer_name), 1, 1)) || lower(substr(trim(customer_name), 2)),
      |      'Unknown Customer') AS customer_name,
      |    lower(trim(customer_email)) AS customer_email,
      |    trim(product) AS product,
      |    product_category,
      |    COALESCE(CAST(quantity AS DOUBLE), 1.0) AS quantity,
      |    CAST(price AS DOUBLE) AS price,
      |    COALESCE(CAST(discount AS DOUBLE), 0.0) AS discount,
      |    order_date,
      |    lower(trim(source)) AS source,
      |    ingested_at, api_post_id,
      |    CAST(total_amount AS DOUBLE) AS total_amount
      |  FROM (
      |    SELECT *, row_number() OVER (PARTITION BY order_id
      |      ORDER BY ingested_at NULLS FIRST, price NULLS FIRST,
      |        quantity NULLS FIRST, discount NULLS FIRST, product NULLS FIRST,
      |        customer_name NULLS FIRST, customer_email NULLS FIRST,
      |        product_category NULLS FIRST, source NULLS FIRST,
      |        order_date NULLS FIRST, api_post_id NULLS FIRST,
      |        total_amount NULLS FIRST) AS __rn
      |    FROM (SELECT DISTINCT * FROM dirty_domain))
      |  WHERE __rn = 1
      |    AND order_id IS NOT NULL AND product IS NOT NULL AND price IS NOT NULL
      |    AND price > 0
      |    AND COALESCE(CAST(quantity AS DOUBLE), 1.0) > 0
      |)""".stripMargin
}
