package graft.ext

import graft.QuerySpec
import graft.pipeline.OrdersDomain
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII handling for training-data pipelines: regex detection over free
  * text plus deterministic pseudonymization of structured identity columns
  * (the privacy pass a corpus runs before anything ships to training —
  * generalizes the reference's email/field validators,
  * `/root/reference/src/validation.py:145-158`, from *checking* PII shape
  * to *removing* it).
  *
  * Redaction is deterministic (md5-derived pseudonyms), so the same
  * person maps to the same token across the corpus — joins and
  * frequency statistics survive redaction, which a random mask would
  * destroy — and the operator carries a full value-level DuckDB oracle.
  * All patterns are backref-free character-class regexes with identical
  * semantics in Java regex (Spark) and RE2 (DuckDB).
  *
  * Scale shape: one scan-local projection — no shuffle, no UDF; the
  * regexes and md5 run inside whole-stage codegen.
  */
object Redaction {

  /** Conservative email pattern (char-class only — portable). */
  final val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"

  /** Deterministic pseudonym for an identity value; null-safe (null in →
    * null out, so missingness statistics survive redaction too). */
  def pseudonym(c: Column, prefix: String): Column =
    when(c.isNull, lit(null)).otherwise(
      concat(lit(prefix), substring(md5(c), 1, 10)))

  /** Local part / domain of an email, split at the FIRST '@' — plain
    * string ops (instr + substring), not regex: the split runs twice per
    * row and the one genuine regex should be the detector, not the
    * splitter. Identical semantics to DuckDB strpos + substr.
    *
    * A value WITHOUT '@' (a name typed into the email field) must fail
    * CLOSED: the whole value is treated as the identifying local part
    * (pseudonymized in [[maskEmail]]) and the domain is null — emitting
    * the raw value as a "domain" would leak the very field the privacy
    * pass exists to remove. */
  private def emailLocal(email: Column): Column =
    when(instr(email, "@") === 0, email)
      .otherwise(email.substr(lit(1), instr(email, "@") - 1))

  def emailDomain(email: Column): Column =
    when(instr(email, "@") === 0, lit(null))
      .otherwise(email.substr(instr(email, "@") + 1, length(email)))

  /** Mask an email keeping its domain (the routing-relevant, non-identifying
    * half): hash of the local part + the literal domain; an '@'-less value
    * becomes a bare pseudonym with no domain suffix. */
  def maskEmail(email: Column): Column =
    when(email.isNull, lit(null))
      .when(instr(email, "@") === 0, substring(md5(email), 1, 10))
      .otherwise(concat(
        substring(md5(emailLocal(email)), 1, 10),
        lit("@"), emailDomain(email)))

  /** Per-record redaction over an orders-domain frame — a pure projection:
    * it adds no exchange and PRESERVES the input's row order, so callers
    * that need sorted output should sort the (narrow) input first. Sorting
    * the redacted output instead would double-execute the projection:
    * range partitioning samples its child to pick boundaries, so every
    * expression below the sort runs twice (measured 9.4 s vs 3.6 s at
    * sf0.1). */
  def redactOrders(domain: DataFrame): DataFrame = {
    val freeText = concat_ws(" ", col("customer_name"), col("customer_email"))
    domain.select(
      col("order_id"),
      pseudonym(col("customer_name"), "user_").as("customer_name_redacted"),
      maskEmail(col("customer_email")).as("customer_email_redacted"),
      emailDomain(col("customer_email")).as("email_domain"),
      size(regexp_extract_all(freeText, lit(EmailRe), lit(0))).as("n_emails_in_text"),
      (when(col("customer_name").isNull, 0).otherwise(1)
        + when(col("customer_email").isNull, 0).otherwise(1)).as("n_redacted"))
  }

  /** k-anonymity risk card over a structured identity table: group rows
    * by their quasi-identifier tuple, measure each group's size k (the
    * number of people hiding behind identical quasi-identifiers), and
    * fold the k distribution into the five buckets a privacy review
    * actually reads — k=1 (unique, re-identifiable outright), k=2,
    * k=3-4, k=5-9, k>=10. Complements [[redactOrders]]: redaction
    * removes DIRECT identifiers; this card quantifies the residual
    * linkage risk carried by the columns that stay (the reference's
    * validators check PII *shape* — the email-shape check at
    * `/root/reference/src/validation.py:127-130`; neither engine side
    * re-identifies anyone — the card is pure counting).
    *
    * Scale shape: ONE map-side-combined hash-agg on the quasi-identifier
    * tuple (the only full-data shuffle, bounded by distinct-tuple
    * cardinality), then a second agg folding the group frame to a single
    * row of bucket counters, exploded to the fixed five-row card — the
    * q63 funnel discipline: no unpartitioned window, no cross join, no
    * driver collect. rows_ppm is exact integer arithmetic
    * (1e6·n_rows div total; 1e6·n ≤ 1e18 keeps LONG exact past 10^12
    * rows). */
  def kAnonymityCard(customers: DataFrame,
      bandWidth: Double = 5000.0d): DataFrame =
    kAnonymityFromPairs(privacyPairs(customers, bandWidth))

  /** Base band width of the maintained privacy state: the FINEST width in
    * q194's enforced nested chain (500/1000/5000/10000), so every
    * registered privacy consumer — all three cards AND the whole
    * generalization sweep — derives from ONE state via the nested-width
    * floor identity (factors 1/2/10/20). A coarser base (the round-10
    * state used 1000) could not serve the sweep's finest row and would
    * silently re-aggregate the raw table. */
  final val PrivacyBaseWidth = 500.0d

  /** The shared STREAMABLE state behind the whole privacy review
    * (q189/q192/q193 cards AND q194's generalization sweep): counts keyed
    * by the full (quasi-identifier, sensitive) tuple at the FINEST
    * registered width [[PrivacyBaseWidth]] — one map-side-combined
    * hash-agg, mergeable by sum, no watermark, state bounded by the
    * tuple DOMAIN (nations × bands × segments), not by row count. The
    * same expression runs on a batch frame and as a COMPLETE-mode
    * streaming aggregation (the distTestBins / dailyPartials
    * state-is-the-result pattern), and [[kAnonymityFromPairs]] /
    * [[lDiversityFromPairs]] / [[tClosenessFromPairs]] /
    * [[generalizationSweepFromPairs]] derive the cards and the sweep from
    * this state with metadata-only arithmetic — so a stream of arriving
    * identity rows re-publishes the whole privacy review after every
    * micro-batch, and the persisted form ([[buildPrivacyState]] /
    * [[appendToPrivacyState]]) folds a batch in at domain-bounded cost
    * with ZERO raw-table rescans. The registered q189 card's 5000 band is
    * [[coarsenPrivacyPairs]] factor 10; q192/q193's 1000 band factor 2;
    * q194's 500/1000/5000/10000 sweep factors 1/2/10/20 — StreamingSpec
    * pins stream ≡ batch for all four per micro-batch. */
  def privacyPairs(customers: DataFrame,
      bandWidth: Double = PrivacyBaseWidth): DataFrame =
    customers
      .groupBy(col("c_nationkey"),
        floor(col("c_acctbal") / bandWidth).cast("int").as("bal_band"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
      // the state is SELF-DESCRIBING: it carries its band width, so a
      // derivation fed a state built at a different width fails loudly
      // (the sweep's coarsen guard) instead of producing a silently
      // mislabeled curve — the width survives persistence and merging
      .withColumn("band_width", lit(bandWidth))

  /** Coarsen a [[privacyPairs]] state to a band width `factor`× wider —
    * EXACT when widths nest, because `floor(floor(x/w)/f) = floor(x/(w·f))`
    * for any real x and positive integer w, f (holds for negative
    * balances too; ExtSpec pins it). This is what lets ONE maintained
    * 500-band pair state serve the registered 5000-band q189 card,
    * q192/q193's 1000 band and q194's whole width chain, without touching
    * the raw table. A non-nested width (e.g. 750 from 500) is NOT
    * derivable from the state — re-aggregate from the table for those. */
  def coarsenPrivacyPairs(pairs: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"coarsening factor must be >= 1, got $factor")
    pairs
      .groupBy(col("c_nationkey"),
        floor(col("bal_band").cast("double") / factor).cast("int")
          .as("bal_band"),
        col("c_mktsegment"))
      .agg(sum(col("cnt")).as("cnt"),
        (max(col("band_width")) * factor).as("band_width"))
  }

  /** q189 from [[privacyPairs]] state alone: the pair count IS k for
    * the (nation, band, segment) quasi-identifier tuple. */
  def kAnonymityFromPairs(pairs: DataFrame): DataFrame = {
    val groups = pairs.select(col("cnt").as("k"))
    bucketCard(groups, col("k"), Seq(
      (1, "k=1", col("k") === 1),
      (2, "k=2", col("k") === 2),
      (3, "k=3-4", col("k").between(3, 4)),
      (5, "k=5-9", col("k").between(5, 9)),
      (10, "k>=10", col("k") >= 10)))
  }

  /** Shared bucket fold for the privacy cards: a per-group frame folds
    * to ONE row of (total, per-bucket group/row counters) and explodes
    * to the fixed card — the q63 funnel discipline (no window, no cross
    * join, no driver collect). Bucket predicates read the group frame's
    * own columns; `rows` is the group's row weight. */
  private[ext] def bucketCard(groups: DataFrame, rows: Column,
      buckets: Seq[(Int, String, Column)]): DataFrame = {
    val folded = groups.agg(
      sum(rows).as("total"),
      buckets.flatMap { case (kf, _, cond) =>
        Seq(
          coalesce(sum(when(cond, lit(1L))), lit(0L)).as(s"g_$kf"),
          coalesce(sum(when(cond, rows)), lit(0L)).as(s"r_$kf"))
      }: _*)
    folded
      .select(col("total"), explode(array(buckets.map { case (kf, label, _) =>
        struct(lit(kf).as("k_floor"), lit(label).as("bucket"),
          col(s"g_$kf").as("n_groups"), col(s"r_$kf").as("n_rows"))
      }: _*)).as("s"))
      .select(col("s.k_floor"), col("s.bucket"), col("s.n_groups"),
        col("s.n_rows"),
        expr("CAST((1000000 * s.n_rows) DIV total AS BIGINT)").as("rows_ppm"))
      .orderBy("k_floor")
  }

  /** l-diversity risk card — the homogeneity-attack companion to
    * [[kAnonymityCard]]: a group can be k-large and still disclosing if
    * every member shares one SENSITIVE value (an attacker who links a
    * person to the group learns the attribute without identifying the
    * row). Per quasi-identifier group, l = distinct sensitive values;
    * the card folds l into the review buckets l=1 (homogeneous —
    * disclosing), l=2, l=3-4, l>=5, weighted by group row count.
    *
    * Scale shape: one two-level hash-agg — (QI, sensitive) distinct
    * pairs, then the QI group fold carrying l and k — followed by the
    * same one-row bucket fold as [[kAnonymityCard]]. Both aggregations
    * are map-side combined; nothing else shuffles. */
  def lDiversityCard(customers: DataFrame,
      bandWidth: Double = 1000.0d): DataFrame =
    lDiversityFromPairs(privacyPairs(customers, bandWidth))

  /** q192 from [[privacyPairs]] state alone: l = pair rows per QI
    * group, k = their count sum — both metadata-only folds. */
  def lDiversityFromPairs(pairs: DataFrame): DataFrame = {
    val groups = pairs
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(count(lit(1)).as("l"), sum(col("cnt")).as("k"))
    bucketCard(groups, col("k"), Seq(
      (1, "l=1", col("l") === 1),
      (2, "l=2", col("l") === 2),
      (3, "l=3-4", col("l").between(3, 4)),
      (5, "l>=5", col("l") >= 5)))
  }

  /** q189: the k-anonymity card over the customer table with the
    * quasi-identifier tuple (nation, market segment, account-balance
    * band) — the classic linkage-attack surface: none of the three
    * columns is an identifier alone, their combination often is. */
  val q189KAnonymity: QuerySpec = QuerySpec(
    "q189_k_anonymity",
    """WITH g AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 5000.0) AS INT) AS bal_band,
      |    count(*) AS k
      |  FROM customer GROUP BY 1, 2, 3),
      |t AS (
      |  SELECT CAST(sum(k) AS BIGINT) AS total,
      |    CAST(coalesce(sum(CASE WHEN k = 1 THEN 1 END), 0) AS BIGINT) AS g_1,
      |    CAST(coalesce(sum(CASE WHEN k = 1 THEN k END), 0) AS BIGINT) AS r_1,
      |    CAST(coalesce(sum(CASE WHEN k = 2 THEN 1 END), 0) AS BIGINT) AS g_2,
      |    CAST(coalesce(sum(CASE WHEN k = 2 THEN k END), 0) AS BIGINT) AS r_2,
      |    CAST(coalesce(sum(CASE WHEN k BETWEEN 3 AND 4 THEN 1 END), 0) AS BIGINT) AS g_3,
      |    CAST(coalesce(sum(CASE WHEN k BETWEEN 3 AND 4 THEN k END), 0) AS BIGINT) AS r_3,
      |    CAST(coalesce(sum(CASE WHEN k BETWEEN 5 AND 9 THEN 1 END), 0) AS BIGINT) AS g_5,
      |    CAST(coalesce(sum(CASE WHEN k BETWEEN 5 AND 9 THEN k END), 0) AS BIGINT) AS r_5,
      |    CAST(coalesce(sum(CASE WHEN k >= 10 THEN 1 END), 0) AS BIGINT) AS g_10,
      |    CAST(coalesce(sum(CASE WHEN k >= 10 THEN k END), 0) AS BIGINT) AS r_10
      |  FROM g)
      |SELECT * FROM (
      |  SELECT 1 AS k_floor, 'k=1' AS bucket, g_1 AS n_groups, r_1 AS n_rows,
      |    CAST((1000000 * r_1) // total AS BIGINT) AS rows_ppm FROM t
      |  UNION ALL SELECT 2, 'k=2', g_2, r_2, CAST((1000000 * r_2) // total AS BIGINT) FROM t
      |  UNION ALL SELECT 3, 'k=3-4', g_3, r_3, CAST((1000000 * r_3) // total AS BIGINT) FROM t
      |  UNION ALL SELECT 5, 'k=5-9', g_5, r_5, CAST((1000000 * r_5) // total AS BIGINT) FROM t
      |  UNION ALL SELECT 10, 'k>=10', g_10, r_10, CAST((1000000 * r_10) // total AS BIGINT) FROM t)
      |ORDER BY k_floor""".stripMargin) { (s, dir) =>
    kAnonymityCard(graft.Tables.customer(s, dir))
  }

  /** t-closeness risk card — the third classic privacy audit, closing
    * the k-anonymity / l-diversity / t-closeness trio: a group can be
    * k-large AND l-diverse yet still leak when its sensitive
    * DISTRIBUTION deviates from the table's (a group that is 90% one
    * segment against a uniform global tells an attacker a lot — the
    * skew IS the disclosure). Per quasi-identifier group, t = the
    * total-variation distance `½·Σ_s |p_g(s) − p(s)|` between the
    * group's sensitive distribution and the global one, computed EXACTLY
    * in cross-multiplied integers (`Σ|cnt_gs·T − c_s·k_g|` over
    * DECIMAL(38,0), one floor division to ppm — clears 10¹² rows), then
    * folded row-weighted into review buckets (t ≤ 0.1 close / ≤ 0.2 /
    * ≤ 0.35 / > 0.35 disclosing).
    *
    * Scale shape: the (QI, sensitive) pair agg feeds three bounded
    * frames — QI groups, the sensitive-DOMAIN global counts (≤ a few
    * dozen rows), and the 1-row total; the (group × sensitive) axis is
    * a linear crossJoin against that broadcast domain frame (absent
    * segments MUST appear: their |0·T − c_s·k| mass is exactly what a
    * missing-category skew contributes), one per-group fold, then the
    * shared one-row bucket card. No unpartitioned window, no driver
    * collect. */
  def tClosenessCard(customers: DataFrame,
      bandWidth: Double = 1000.0d): DataFrame =
    tClosenessFromPairs(privacyPairs(customers, bandWidth))

  /** q193 from [[privacyPairs]] state alone: groups, the global
    * sensitive mix, and the TVD axis are all folds of the pair frame.
    * The frame is referenced FOUR times (groups, global, total, the
    * axis join); this operator deliberately does not cache it (a
    * `.persist()` inside a lazy operator leaks an InMemoryRelation per
    * invocation — the [[Dedup.minhashCandidates]] convention), so a
    * caller deriving from a RAW table at true scale should persist the
    * pairs frame first and pass it here — exactly what the streaming
    * path does (`state.persist()` in StreamingSpec). From a maintained
    * state the frame is domain-bounded metadata and recomputation is
    * noise. */
  def tClosenessFromPairs(pairs: DataFrame): DataFrame = {
    val groups = pairs.groupBy(col("c_nationkey"), col("bal_band"))
      .agg(sum(col("cnt")).as("k"))
    val global = pairs.groupBy(col("c_mktsegment"))
      .agg(sum(col("cnt")).as("cs"))
      .crossJoin(broadcast(pairs.agg(sum(col("cnt")).as("tt"))))
    val axis = groups.crossJoin(broadcast(global))
    val tv = axis
      .join(pairs, Seq("c_nationkey", "bal_band", "c_mktsegment"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(max(col("k")).as("k"), max(col("tt")).as("tt"),
        sum(expr("abs(CAST(cnt AS DECIMAL(38,0)) * tt" +
          " - CAST(cs AS DECIMAL(38,0)) * k)")).as("num"))
      .withColumn("tvd_ppm", expr(
        "CAST((1000000 * num) DIV (2 * CAST(k AS DECIMAL(38,0)) * tt)" +
          " AS BIGINT)"))
    bucketCard(tv, col("k"), Seq(
      (1, "t<=0.10", col("tvd_ppm") <= 100000),
      (2, "t<=0.20", col("tvd_ppm").between(100001, 200000)),
      (3, "t<=0.35", col("tvd_ppm").between(200001, 350000)),
      (4, "t>0.35", col("tvd_ppm") > 350000)))
  }

  /** q193: the t-closeness card over customer — same quasi-identifiers
    * and sensitive attribute as q192, so the two cards read as one
    * review: q192 says how many segments a group spans, q193 how far
    * its segment MIX sits from the table's. */
  val q193TCloseness: QuerySpec = QuerySpec(
    "q193_t_closeness",
    """WITH pairs AS (
      |  SELECT c_nationkey, CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_band,
      |    c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
      |  FROM customer GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT c_nationkey, bal_band, CAST(sum(cnt) AS BIGINT) AS k
      |  FROM pairs GROUP BY 1, 2),
      |gl AS (
      |  SELECT c_mktsegment, CAST(sum(cnt) AS BIGINT) AS cs
      |  FROM pairs GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tt FROM pairs),
      |axis AS (
      |  SELECT g.c_nationkey, g.bal_band, g.k, gl.c_mktsegment, gl.cs, tot.tt
      |  FROM g CROSS JOIN gl CROSS JOIN tot),
      |j AS (
      |  SELECT a.c_nationkey, a.bal_band, a.k, a.tt, a.cs,
      |    coalesce(p.cnt, 0) AS cnt
      |  FROM axis a LEFT JOIN pairs p
      |    ON p.c_nationkey = a.c_nationkey AND p.bal_band = a.bal_band
      |    AND p.c_mktsegment = a.c_mktsegment),
      |tv AS (
      |  SELECT c_nationkey, bal_band, max(k) AS k,
      |    CAST((1000000 * sum(abs(CAST(cnt AS HUGEINT) * tt
      |      - CAST(cs AS HUGEINT) * k)))
      |      // (2 * CAST(max(k) AS HUGEINT) * max(tt)) AS BIGINT) AS tvd_ppm
      |  FROM j GROUP BY 1, 2),
      |t AS (
      |  SELECT CAST(sum(k) AS BIGINT) AS total,
      |    CAST(coalesce(sum(CASE WHEN tvd_ppm <= 100000 THEN 1 END), 0) AS BIGINT) AS g_1,
      |    CAST(coalesce(sum(CASE WHEN tvd_ppm <= 100000 THEN k END), 0) AS BIGINT) AS r_1,
      |    CAST(coalesce(sum(CASE WHEN tvd_ppm BETWEEN 100001 AND 200000 THEN 1 END), 0) AS BIGINT) AS g_2,
      |    CAST(coalesce(sum(CASE WHEN tvd_ppm BETWEEN 100001 AND 200000 THEN k END), 0) AS BIGINT) AS r_2,
      |    CAST(coalesce(sum(CASE WHEN tvd_ppm BETWEEN 200001 AND 350000 THEN 1 END), 0) AS BIGINT) AS g_3,
      |    CAST(coalesce(sum(CASE WHEN tvd_ppm BETWEEN 200001 AND 350000 THEN k END), 0) AS BIGINT) AS r_3,
      |    CAST(coalesce(sum(CASE WHEN tvd_ppm > 350000 THEN 1 END), 0) AS BIGINT) AS g_4,
      |    CAST(coalesce(sum(CASE WHEN tvd_ppm > 350000 THEN k END), 0) AS BIGINT) AS r_4
      |  FROM tv)
      |SELECT * FROM (
      |  SELECT 1 AS k_floor, 't<=0.10' AS bucket, g_1 AS n_groups, r_1 AS n_rows,
      |    CAST((1000000 * r_1) // total AS BIGINT) AS rows_ppm FROM t
      |  UNION ALL SELECT 2, 't<=0.20', g_2, r_2, CAST((1000000 * r_2) // total AS BIGINT) FROM t
      |  UNION ALL SELECT 3, 't<=0.35', g_3, r_3, CAST((1000000 * r_3) // total AS BIGINT) FROM t
      |  UNION ALL SELECT 4, 't>0.35', g_4, r_4, CAST((1000000 * r_4) // total AS BIGINT) FROM t)
      |ORDER BY k_floor""".stripMargin) { (s, dir) =>
    tClosenessCard(graft.Tables.customer(s, dir))
  }

  /** q192: the l-diversity card over customer with quasi-identifiers
    * (nation, balance band) and market segment as the sensitive
    * attribute — the pairing where q189's tuple deliberately DROPS the
    * segment so it can play the sensitive role. */
  val q192LDiversity: QuerySpec = QuerySpec(
    "q192_l_diversity",
    """WITH pairs AS (
      |  SELECT c_nationkey, CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_band,
      |    c_mktsegment, count(*) AS cnt
      |  FROM customer GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT c_nationkey, bal_band, count(*) AS l, sum(cnt) AS k
      |  FROM pairs GROUP BY 1, 2),
      |t AS (
      |  SELECT CAST(sum(k) AS BIGINT) AS total,
      |    CAST(coalesce(sum(CASE WHEN l = 1 THEN 1 END), 0) AS BIGINT) AS g_1,
      |    CAST(coalesce(sum(CASE WHEN l = 1 THEN k END), 0) AS BIGINT) AS r_1,
      |    CAST(coalesce(sum(CASE WHEN l = 2 THEN 1 END), 0) AS BIGINT) AS g_2,
      |    CAST(coalesce(sum(CASE WHEN l = 2 THEN k END), 0) AS BIGINT) AS r_2,
      |    CAST(coalesce(sum(CASE WHEN l BETWEEN 3 AND 4 THEN 1 END), 0) AS BIGINT) AS g_3,
      |    CAST(coalesce(sum(CASE WHEN l BETWEEN 3 AND 4 THEN k END), 0) AS BIGINT) AS r_3,
      |    CAST(coalesce(sum(CASE WHEN l >= 5 THEN 1 END), 0) AS BIGINT) AS g_5,
      |    CAST(coalesce(sum(CASE WHEN l >= 5 THEN k END), 0) AS BIGINT) AS r_5
      |  FROM g)
      |SELECT * FROM (
      |  SELECT 1 AS k_floor, 'l=1' AS bucket, g_1 AS n_groups, r_1 AS n_rows,
      |    CAST((1000000 * r_1) // total AS BIGINT) AS rows_ppm FROM t
      |  UNION ALL SELECT 2, 'l=2', g_2, r_2, CAST((1000000 * r_2) // total AS BIGINT) FROM t
      |  UNION ALL SELECT 3, 'l=3-4', g_3, r_3, CAST((1000000 * r_3) // total AS BIGINT) FROM t
      |  UNION ALL SELECT 5, 'l>=5', g_5, r_5, CAST((1000000 * r_5) // total AS BIGINT) FROM t)
      |ORDER BY k_floor""".stripMargin) { (s, dir) =>
    lDiversityCard(graft.Tables.customer(s, dir))
  }

  /** Generalization sweep — the DECISION layer over the privacy cards:
    * k-anonymity is usually repaired by COARSENING a quasi-identifier
    * (wider balance bands here), and the reviewer's question is "what is
    * the finest generalization that still protects?". For each candidate
    * band width, the sweep reports the k<5 at-risk share of rows under
    * the (nation, band, segment) tuple — a curve a policy threshold cuts.
    *
    * The "first width that clears the bar is the finest safe one"
    * reading rule needs the curve MONOTONE, and monotonicity only holds
    * when the widths NEST (each divides the next): then every coarser
    * band is a union of whole finer bands, groups only merge, k per
    * group only grows, and the k<5 row share is nonincreasing. A
    * non-nested step (2500 after 1000) can SPLIT a band boundary and
    * make the curve rise — so nesting is enforced loudly, not assumed.
    *
    * Scale shape: ONE shuffle, not one per width — each row explodes to
    * |widths| candidate rows first (linear expansion by a literal-array
    * axis), then a single map-side-combined hash-agg on
    * (width, QI tuple) and a |widths|-row fold. Exact integer ppm. */
  def generalizationSweep(customers: DataFrame,
      widths: Seq[Int] = Seq(500, 1000, 5000, 10000)): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ >= 1), s"bad widths: $widths")
    // STRICTLY increasing as well as dividing: a duplicate width
    // (Seq(500, 500, 5000)) passes the divisibility test but explode
    // would emit two identical band_width rows per customer into the
    // same (width, QI) group, doubling every k and corrupting the k<5
    // at-risk classification for that width.
    require(widths.sliding(2).forall {
      case Seq(a, b) => b > a && b % a == 0
      case _ => true
    }, s"widths must be a strictly increasing nested chain (each divides " +
      s"the next) for the monotone finest-safe-width reading to hold, " +
      s"got $widths")
    val groups = customers
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"),
        explode(array(widths.map(lit(_)): _*)).as("band_width"))
      .groupBy(col("band_width"), col("c_nationkey"),
        floor(col("c_acctbal") / col("band_width").cast("double"))
          .cast("int").as("bal_band"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("k"))
    sweepFold(groups)
  }

  /** The sweep's per-width fold, shared by the table-scan and
    * state-derived forms: a (band_width, k) group frame to the
    * width-count curve rows. */
  private def sweepFold(groups: DataFrame): DataFrame =
    groups.groupBy("band_width")
      .agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_rows"),
        coalesce(sum(when(col("k") < 5, col("k"))), lit(0L))
          .as("at_risk_rows"))
      .select(col("band_width"), col("n_groups"), col("n_rows"),
        col("at_risk_rows"),
        expr("CAST((1000000 * at_risk_rows) DIV n_rows AS BIGINT)")
          .as("at_risk_ppm"))
      .orderBy("band_width")

  /** q194's whole sweep from a [[privacyPairs]] state alone: each
    * candidate width coarsens the base-width state by its nested factor
    * (the floor identity — exact, negatives included) and the coarsened
    * counts ARE the per-group k, so the curve is |widths| folds of a
    * domain-bounded metadata frame — ZERO raw-table rescans. The widths
    * must extend the state's own chain: strictly increasing, nested, and
    * the finest one a multiple of `baseWidth` (enforced loudly — a
    * non-derivable width silently re-aggregating the table is exactly
    * the failure this form exists to remove).
    *
    * From a RAW table this form would re-aggregate once per width — use
    * [[generalizationSweep]]'s single exploded-axis shuffle there; this
    * form is for a maintained/streaming state, where the pair frame is
    * metadata and the tClosenessFromPairs no-persist convention applies. */
  def generalizationSweepFromPairs(pairs: DataFrame,
      baseWidth: Int = PrivacyBaseWidth.toInt,
      widths: Seq[Int] = Seq(500, 1000, 5000, 10000)): DataFrame = {
    require(baseWidth >= 1 && widths.nonEmpty, s"bad sweep: $baseWidth $widths")
    require(widths.head % baseWidth == 0,
      s"finest width ${widths.head} must be a multiple of the state's " +
        s"base width $baseWidth — it is not derivable from the state")
    require(widths.sliding(2).forall {
      case Seq(a, b) => b > a && b % a == 0
      case _ => true
    }, s"widths must be a strictly increasing nested chain (each divides " +
      s"the next) for the monotone finest-safe-width reading to hold, " +
      s"got $widths")
    val perWidth = widths.map { w =>
      coarsenPrivacyPairs(pairs, w / baseWidth)
        // the state is self-describing: if the caller's baseWidth does
        // not match the width the state was actually built at, the
        // coarsened width disagrees with the label — fail LOUDLY instead
        // of emitting a silently mislabeled curve
        .select(
          when(col("band_width") === w, col("cnt"))
            .otherwise(raise_error(concat(
              lit(s"generalizationSweepFromPairs: state width mismatch — " +
                s"coarsening toward labeled width $w actually produced "),
              col("band_width").cast("string"),
              lit(s" (state not built at base width $baseWidth)"))))
            .as("k"))
        .select(lit(w).as("band_width"), col("k"))
    }.reduce(_ unionByName _)
    sweepFold(perWidth)
  }

  // ---- maintained privacy state (persisted, crash-safe, append ≡ rebuild)

  /** Merge algebra for [[privacyPairs]] states: counts sum per tuple —
    * the same commutative monoid the distributed aggregate already folds
    * across partitions, so append ≡ rebuild EXACTLY. */
  def mergePrivacyPairs(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("c_nationkey"), col("bal_band"), col("c_mktsegment"))
      .agg(sum(col("cnt")).as("cnt"),
        min(col("band_width")).as("__wmin"),
        max(col("band_width")).as("__wmax"))
      .select(col("c_nationkey"), col("bal_band"), col("c_mktsegment"),
        col("cnt"),
        // merging states built at DIFFERENT widths is meaningless (the
        // bands partition different intervals) — fail loudly where the
        // widths collide in one tuple group
        when(col("__wmin") === col("__wmax"), col("__wmax"))
          .otherwise(raise_error(concat(
            lit("mergePrivacyPairs: width mismatch — merging states of " +
              "band widths "), col("__wmin").cast("string"), lit(" and "),
            col("__wmax").cast("string")))).as("band_width"))

  /** Persist the base-width pair state: build pays the identity-table
    * scan once; every later review derives from the state. A REBUILD
    * over an existing state goes through the same staging + backup
    * publish as the append path — a plain Overwrite deletes the live
    * state before writing, so a crash mid-build would leave readers a
    * truncated frame they'd serve silently. */
  def buildPrivacyState(customers: DataFrame, dir: String,
      bandWidth: Double = PrivacyBaseWidth): Unit =
    graft.pipeline.Store.republish(customers.sparkSession, s"$dir/privacy",
      "privacy build")(privacyPairs(customers, bandWidth))

  /** Fold a batch of identity rows into the persisted state WITHOUT
    * rescanning the covered table: batch pairs ∪ stored pairs → one
    * domain-cardinality aggregate, published with the staging + backup
    * rename discipline (crashed append leaves the previous state
    * recoverable; readers never see a half-written merge). */
  def appendToPrivacyState(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame,
      bandWidth: Double = PrivacyBaseWidth): Unit =
    graft.pipeline.Store.republish(spark, s"$dir/privacy", "privacy append") {
      val stored = readPrivacyState(spark, dir)
      // GLOBAL width assert (round 12): mergePrivacyPairs' per-group
      // min/max guard only fires where the two states share a tuple group
      // — a wrong-width batch covering only NEW tuples (a new nation, say)
      // would merge silently, and the cards ignore band_width, so they'd
      // emit silently wrong results. One domain-bounded metadata read.
      val widths = stored.select("band_width").distinct()
        .collect().map(_.getDouble(0))
      if (!widths.forall(_ == bandWidth))
        sys.error(s"privacy append: width mismatch — state built at " +
          s"${widths.mkString(",")}, batch aggregated at $bandWidth")
      mergePrivacyPairs(stored, privacyPairs(batch, bandWidth))
    }

  /** Read the persisted state. Read-only: a crashed append swap is
    * served from the backup; repair belongs to the next writer op. */
  def readPrivacyState(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.pipeline.Store.readRecoverableReadOnly(spark, s"$dir/privacy",
      "privacy read")

  /** q194: the sweep over customer at four NESTED candidate widths —
    * read top-down, the first row whose at_risk_ppm clears the policy
    * bar is the finest safe generalization (valid because the chain
    * nests; see [[generalizationSweep]]). */
  val q194GeneralizationSweep: QuerySpec = QuerySpec(
    "q194_generalization_sweep",
    """WITH w AS (SELECT unnest([500, 1000, 5000, 10000]) AS band_width),
      |g AS (
      |  SELECT w.band_width, c_nationkey,
      |    CAST(floor(c_acctbal / CAST(w.band_width AS DOUBLE)) AS INT) AS bal_band,
      |    c_mktsegment, count(*) AS k
      |  FROM customer CROSS JOIN w
      |  GROUP BY 1, 2, 3, 4)
      |SELECT band_width,
      |  CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(k) AS BIGINT) AS n_rows,
      |  CAST(coalesce(sum(CASE WHEN k < 5 THEN k END), 0) AS BIGINT) AS at_risk_rows,
      |  CAST((1000000 * coalesce(sum(CASE WHEN k < 5 THEN k END), 0))
      |    // CAST(sum(k) AS BIGINT) AS BIGINT) AS at_risk_ppm
      |FROM g GROUP BY band_width
      |ORDER BY band_width""".stripMargin) { (s, dir) =>
    generalizationSweep(graft.Tables.customer(s, dir))
  }

  /** Conservative phone-like pattern (char-class only — portable to
    * RE2): 3-3-4 digit groups with dash separators. */
  final val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Corpus PII incidence card — the DETECTION side of the privacy pass
    * over the training-corpus table itself ([[redactOrders]] removes
    * identifiers from the structured orders domain; this measures how
    * much PII-shaped text leaks into `documents.text`, per source — the
    * number a privacy review reads before deciding which sources need
    * the redaction pass at all). Per source: docs scanned, docs carrying
    * ≥1 email / phone hit, total hits, and exact per-doc incidence ppm.
    *
    * Scale shape: the regex counters are scan-local codegen'd
    * projections (zero shuffle); the card is one per-source
    * map-side-combined hash-agg to a sources-bounded frame. Patterns
    * are backref-free char classes, identical in Java regex and RE2. */
  def piiIncidence(docs: DataFrame): DataFrame =
    incidenceFromPartials(piiPartials(docs))

  /** The STREAMABLE state behind the incidence card — the detection twin
    * of [[privacyPairs]]: per-source doc/occurrence counters whose merge
    * algebra is plain sum, so the card is a COMPLETE-mode streaming
    * aggregation (state bounded by the SOURCE domain, no watermark) and
    * the persisted form ([[buildPiiState]]) folds an admitted batch in
    * at counter cost with ZERO corpus rescans — a redaction rollout gets
    * a live "which sources still leak" monitor from the state alone.
    * The regex counters are scan-local codegen'd projections; the only
    * shuffle is the sources-bounded hash-agg. */
  def piiPartials(docs: DataFrame): DataFrame = {
    val nEmails = size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
    val nPhones = size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
    docs
      .select(col("source"), nEmails.as("ne"), nPhones.as("np"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ne") > 0, 1L).otherwise(0L)).as("docs_with_email"),
        sum(when(col("np") > 0, 1L).otherwise(0L)).as("docs_with_phone"),
        sum(col("ne").cast("long")).as("n_emails"),
        sum(col("np").cast("long")).as("n_phones"))
  }

  /** Merge algebra for [[piiPartials]] states: every counter sums per
    * source — the same commutative monoid the distributed aggregate
    * folds across partitions, so append ≡ rebuild EXACTLY. */
  def mergePiiPartials(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("docs_with_email")).as("docs_with_email"),
        sum(col("docs_with_phone")).as("docs_with_phone"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_phones")).as("n_phones"))

  /** The q195 card from a [[piiPartials]] state alone — metadata-only
    * arithmetic over the sources-bounded frame, no corpus touch. */
  def incidenceFromPartials(partials: DataFrame): DataFrame =
    partials
      .select(col("source"), col("n_docs"), col("docs_with_email"),
        col("docs_with_phone"), col("n_emails"), col("n_phones"),
        expr("CAST((1000000 * docs_with_email) DIV n_docs AS BIGINT)")
          .as("email_doc_ppm"),
        expr("CAST((1000000 * docs_with_phone) DIV n_docs AS BIGINT)")
          .as("phone_doc_ppm"))
      .orderBy("source")

  /** Persist the incidence state (the [[buildPrivacyState]] discipline:
    * staging + backup atomic publish; a plain Overwrite rebuild would
    * delete the live artifact before writing). */
  def buildPiiState(docs: DataFrame, dir: String): Unit =
    graft.pipeline.Store.republish(docs.sparkSession, s"$dir/pii",
      "pii build")(piiPartials(docs))

  /** Fold an admitted batch of docs into the persisted state WITHOUT
    * rescanning the covered corpus: batch partials ∪ stored partials →
    * one sources-bounded aggregate, atomically published. */
  def appendToPiiState(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame): Unit =
    graft.pipeline.Store.republish(spark, s"$dir/pii", "pii append")(
      mergePiiPartials(readPiiState(spark, dir), piiPartials(batch)))

  /** Read the persisted state. Read-only: a crashed append swap is
    * served from the backup; repair belongs to the next writer op. */
  def readPiiState(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.pipeline.Store.readRecoverableReadOnly(spark, s"$dir/pii",
      "pii read")

  /** q195: the incidence card over `documents` with PII planted into
    * deterministic doc_id slices (the synthetic corpus is clean, so the
    * detectors need work: %13==5 docs gain an email, %17==3 docs a
    * phone, the CRT overlap class (%221==122) both — giving every
    * source nonzero and DIFFERING incidence). */
  val q195PiiIncidence: QuerySpec = QuerySpec(
    "q195_pii_incidence",
    s"""WITH corpus AS (
      |  SELECT source,
      |    text
      |      || (CASE WHEN doc_id % 13 = 5
      |          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END)
      |      || (CASE WHEN doc_id % 17 = 3
      |          THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-4242' ELSE '' END)
      |      AS text
      |  FROM documents)
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN len(regexp_extract_all(text, '$EmailRe')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
      |  CAST(sum(CASE WHEN len(regexp_extract_all(text, '$PhoneRe')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_phone,
      |  CAST(sum(len(regexp_extract_all(text, '$EmailRe'))) AS BIGINT) AS n_emails,
      |  CAST(sum(len(regexp_extract_all(text, '$PhoneRe'))) AS BIGINT) AS n_phones,
      |  CAST((1000000 * sum(CASE WHEN len(regexp_extract_all(text, '$EmailRe')) > 0 THEN 1 ELSE 0 END))
      |    // count(*) AS BIGINT) AS email_doc_ppm,
      |  CAST((1000000 * sum(CASE WHEN len(regexp_extract_all(text, '$PhoneRe')) > 0 THEN 1 ELSE 0 END))
      |    // count(*) AS BIGINT) AS phone_doc_ppm
      |FROM corpus GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val d = graft.Tables.documents(s, dir)
    val injected = d.select(col("source"),
      concat(col("text"),
        when(col("doc_id") % 13 === 5,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 17 === 3,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-4242"))).otherwise(lit(""))).as("text"))
    piiIncidence(injected)
  }

  /** Redact one PII pattern from a text column with DETERMINISTIC
    * md5-derived placeholder tokens — the removal side of
    * [[piiIncidence]] (q195 detects; this removes). Same-value-same-token
    * (the q66 pseudonym discipline: `prefix` + first 10 md5 hex chars of
    * the matched text), so cross-document joins and frequency statistics
    * over the redacted corpus survive — a static mask would destroy them.
    *
    * Construction is split/extract/interleave — `split` on the pattern
    * gives the n+1 kept segments, `regexp_extract_all` the n matches,
    * and one `aggregate` fold re-interleaves segments with each match's
    * placeholder. All native higher-order/codegen expressions, zero UDF,
    * zero shuffle (scan-local projection); patterns are the shared
    * backref-free char classes, identical in Java regex and RE2. */
  def redactPattern(text: Column, pattern: String, prefix: String): Column = {
    val segs = split(text, pattern, -1)
    val ms = regexp_extract_all(text, lit(pattern), lit(0))
    // the no-match branch guards the fold: sequence(0, -1) would emit a
    // DESCENDING [0, -1] range, not an empty one
    when(text.isNull, lit(null))
      .when(size(ms) === 0, text)
      .otherwise(
        aggregate(
          sequence(lit(0), size(ms) - 1),
          element_at(segs, 1),
          (acc, i) => concat(acc,
            concat(lit(prefix), substring(md5(element_at(ms, i + 1)), 1, 10)),
            element_at(segs, i + lit(2)))))
  }

  /** Corpus-text PII redaction — emails then phones, each match replaced
    * by its deterministic placeholder, with per-doc replacement counts
    * for the audit trail and the redacted text carried as an md5 (the
    * q80 contract: gate-visible without shipping full text through the
    * oracle compare). Scale shape: one scan-local projection per doc —
    * no shuffle, no UDF. An ExtSpec pin closes the loop: the redacted
    * corpus's [[piiIncidence]] is zero. */
  def redactCorpusText(docs: DataFrame): DataFrame = {
    val nEmails = size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
    val nPhones = size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
    docs
      .withColumn("__t1", redactPattern(col("text"), EmailRe, "EMAIL_"))
      .withColumn("n_emails_redacted", nEmails.cast("long"))
      .withColumn("redacted_text", redactPattern(col("__t1"), PhoneRe, "PHONE_"))
      .withColumn("n_phones_redacted",
        size(regexp_extract_all(col("__t1"), lit(PhoneRe), lit(0))).cast("long"))
      .select(col("doc_id"), col("source"),
        col("n_emails_redacted"), col("n_phones_redacted"),
        col("redacted_text"))
  }

  /** q196: redaction over q195's injected corpus (same planted PII
    * slices, so the remover provably has work), reporting per-doc
    * replacement counts and the redacted text's md5. */
  val q196RedactCorpus: QuerySpec = QuerySpec(
    "q196_redact_corpus", {
      def redactCte(inRel: String, outCte: String, pat: String,
          prefix: String, cntCol: String): String =
        s"""${outCte}_parts AS (
          |  SELECT doc_id, source, i,
          |    segs[i] || (CASE WHEN i <= len(ms)
          |      THEN '$prefix' || substr(md5(ms[i]), 1, 10) ELSE '' END) AS piece,
          |    len(ms) AS n_m
          |  FROM (
          |    SELECT doc_id, source,
          |      string_split_regex(text, '$pat') AS segs,
          |      regexp_extract_all(text, '$pat') AS ms
          |    FROM $inRel),
          |  unnest(generate_series(1, len(segs))) AS u(i)),
          |$outCte AS (
          |  SELECT doc_id, source,
          |    string_agg(piece, '' ORDER BY i) AS text,
          |    CAST(max(n_m) AS BIGINT) AS $cntCol
          |  FROM ${outCte}_parts GROUP BY doc_id, source)""".stripMargin
      s"""WITH corpus AS (
        |  SELECT doc_id, source,
        |    text
        |      || (CASE WHEN doc_id % 13 = 5
        |          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END)
        |      || (CASE WHEN doc_id % 17 = 3
        |          THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-4242' ELSE '' END)
        |      AS text
        |  FROM documents),
        |${redactCte("corpus", "r1", EmailRe, "EMAIL_", "n_emails_redacted")},
        |${redactCte("r1", "r2", PhoneRe, "PHONE_", "n_phones_redacted")}
        |SELECT c.doc_id AS doc_id, c.source AS source,
        |  r1.n_emails_redacted AS n_emails_redacted,
        |  r2.n_phones_redacted AS n_phones_redacted,
        |  md5(r2.text) AS redacted_md5
        |FROM corpus c
        |LEFT JOIN r1 ON r1.doc_id = c.doc_id
        |LEFT JOIN r2 ON r2.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin
      // LEFT JOINs from corpus, not an inner join of the redaction CTEs:
      // a NULL text vanishes inside string_split_regex/unnest, but the
      // Spark side honestly KEEPS the row with null counts/md5 — the
      // oracle must mirror that or a corpus with one null text would
      // row-count-diverge (none of the swept corpora has one; enforced
      // loudly, not assumed).
    }) { (s, dir) =>
    val d = graft.Tables.documents(s, dir)
    val injected = d.select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 13 === 5,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 17 === 3,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-4242"))).otherwise(lit(""))).as("text"))
    // sort the NARROW input, not the redacted projection: a global sort
    // above the regex/fold projection samples its child for range
    // boundaries and re-executes the whole redaction twice (the
    // redactOrders lesson in this file — measured 2x there)
    redactCorpusText(injected.orderBy("doc_id"))
      .select(col("doc_id"), col("source"),
        col("n_emails_redacted"), col("n_phones_redacted"),
        md5(col("redacted_text")).as("redacted_md5"))
  }

  /** q66: redaction over the deterministically-dirty domain (so the
    * null-safety path is exercised: %83 rows arrive with a null name and
    * must leave with one). */
  val q66PiiRedact: QuerySpec = QuerySpec(
    "q66_pii_redact",
    "WITH " + OrdersDomain.OracleCte + ",\n" + OrdersDomain.DirtyOracleCte + "\n" +
      s"""SELECT order_id,
         |  CASE WHEN customer_name IS NULL THEN NULL
         |    ELSE 'user_' || substr(md5(customer_name), 1, 10) END AS customer_name_redacted,
         |  CASE WHEN customer_email IS NULL THEN NULL
         |    WHEN strpos(customer_email, '@') = 0 THEN substr(md5(customer_email), 1, 10)
         |    ELSE substr(md5(substr(customer_email, 1, strpos(customer_email, '@') - 1)), 1, 10)
         |      || '@' || substr(customer_email, strpos(customer_email, '@') + 1) END AS customer_email_redacted,
         |  CASE WHEN strpos(customer_email, '@') = 0 THEN NULL
         |    ELSE substr(customer_email, strpos(customer_email, '@') + 1) END AS email_domain,
         |  CAST(len(regexp_extract_all(concat_ws(' ', customer_name, customer_email),
         |    '$EmailRe')) AS INT) AS n_emails_in_text,
         |  (CASE WHEN customer_name IS NULL THEN 0 ELSE 1 END
         |    + CASE WHEN customer_email IS NULL THEN 0 ELSE 1 END) AS n_redacted
         |FROM dirty_domain
         |ORDER BY order_id""".stripMargin) { (s, dir) =>
    // narrow-sort placement (r13, same as q10): the sort sits between the
    // join and the domain projection, so the sampling pass skips the
    // derived columns entirely (the redaction itself was already above
    // the sort — see the redactCorpusText note)
    redactOrders(OrdersDomain.dirtyFromTpchOrdered(s, dir))
  }

  val all: Seq[QuerySpec] = Seq(q66PiiRedact, q189KAnonymity, q192LDiversity,
    q193TCloseness, q194GeneralizationSweep, q195PiiIncidence,
    q196RedactCorpus)
}
