package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range (point-in-interval) join: every (point, interval) pair with
  * `lo <= point <= hi` — the second classic operator Spark lacks
  * natively (alongside the as-of join; builder brief §custom-operators).
  *
  * Spark plans a raw inequality join as BroadcastNestedLoopJoin — an
  * O(|points| x |intervals|) comparison loop that dies at scale even
  * when the MATCH count is small. This is the standard binning
  * rewrite: pick a bucket width W near the typical interval length,
  * expand each interval to the ceil(len/W)+1 buckets it touches, map
  * each point to its single bucket, hash-join on bucket equality, and
  * re-check the exact range as a post-join filter.
  *
  *   - each point lands in EXACTLY one bucket, so a pair can meet in
  *     at most one bucket — no duplicate matches, no dedup pass;
  *   - work is |points| + |intervals| x (len/W + 1) hashed rows, an
  *     equi-join Catalyst can broadcast, shuffle, or AQE-skew-split
  *     like any other join — the 100 TB shape;
  *   - the residual `lo <= p <= hi` filter runs post-join on
  *     bucket-colocated candidates only.
  *
  * Coordinates are LONG (days since epoch, unix seconds, ...);
  * [[pointInIntervalDates]] adapts date columns. Degenerate inputs
  * (null or lo > hi intervals, null points) drop out, matching SQL
  * inequality semantics. W is a tuning dial, not a correctness one:
  * too small explodes the interval side, too large makes the residual
  * filter discard more candidates.
  */
object RangeJoin {

  /** Exact floor division for longs (`floor(c / w)` through doubles
    * loses exactness past 2^53; negative coordinates must round toward
    * -inf, not zero): the LONG truncating division, one lower for a
    * negative coordinate with a remainder. No intermediate leaves the
    * long range, so coordinates within `w` of Long.MinValue bucket
    * without an ANSI overflow error. Long, not DECIMAL(38,0): a Decimal
    * per row on the join's hot path is the per-task cost round 14
    * removed (guide §1.2). */
  private def floorDiv(c: Column, w: Long): Column = {
    val q = call_function("div", c, lit(w))
    when(c < 0 && c % w =!= 0, q - 1).otherwise(q)
  }

  /** @param points     side whose `pointCol` (long) falls in the interval
    * @param intervals  side carrying `[loCol, hiCol]` (long, inclusive)
    * @param bucketWidth W in the shared coordinate unit, >= 1
    * @return inner join of all matching pairs, point columns first.
    *         Column names must be disjoint across the two sides. */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val overlap = points.columns.toSet.intersect(intervals.columns.toSet)
    require(overlap.isEmpty,
      s"pointInInterval sides must not share column names: $overlap")
    val p = points
      .filter(col(pointCol).isNotNull)
      .withColumn("__bucket", floorDiv(col(pointCol), bucketWidth))
    val iv = intervals
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull &&
        col(loCol) <= col(hiCol))
      .withColumn("__bucket", explode(sequence(
        floorDiv(col(loCol), bucketWidth), floorDiv(col(hiCol), bucketWidth))))
    p.join(iv, Seq("__bucket"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("__bucket")
  }

  /** Date-typed adapter: converts `pointCol`/`loCol`/`hiCol` (date) to
    * days-since-epoch, joins with `bucketWidthDays`, and returns the
    * original columns. */
  def pointInIntervalDates(points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String,
      bucketWidthDays: Int): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    def days(c: String) = datediff(col(c), epoch).cast("long")
    val joined = pointInInterval(
      points.withColumn("__p_d", days(pointCol)),
      intervals.withColumn("__lo_d", days(loCol)).withColumn("__hi_d", days(hiCol)),
      "__p_d", "__lo_d", "__hi_d", bucketWidthDays.toLong)
    joined.drop("__p_d", "__lo_d", "__hi_d")
  }

  /** Interval-overlap join: every (left, right) pair of intervals with
    * `leftLo <= rightHi && rightLo <= leftHi` (inclusive overlap, the
    * SQL inequality-join semantics). Same bucket-expansion rewrite as
    * [[pointInInterval]], but BOTH sides expand, so an overlapping pair
    * meets in every bucket their spans share. Emitting once WITHOUT a
    * distinct pass uses the overlap-start rule: a pair overlaps iff
    * `max(leftLo, rightLo) <= min(leftHi, rightHi)`, and that start
    * point lies inside both spans — so its bucket is in the shared
    * bucket range, and we keep a candidate only in THAT one bucket.
    * Work is `Σ (len/W + 1)` hashed rows per side feeding one
    * equi-join — broadcastable / AQE-splittable, the 100 TB shape the
    * raw inequality join (BroadcastNestedLoopJoin) never reaches.
    * Degenerate intervals (null bounds or lo > hi) drop out. */
  def intervalOverlap(left: DataFrame, right: DataFrame,
      leftLo: String, leftHi: String, rightLo: String, rightHi: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"intervalOverlap sides must not share column names: $overlap")
    def expand(df: DataFrame, lo: String, hi: String) = df
      .filter(col(lo).isNotNull && col(hi).isNotNull && col(lo) <= col(hi))
      .withColumn("__bucket", explode(sequence(
        floorDiv(col(lo), bucketWidth), floorDiv(col(hi), bucketWidth))))
    // the overlap-start rule in MULTIPLY form: `b == floor(start/w)` ⟺
    // `b·w ≤ start < b·w + w` — long multiply-compares per candidate pair
    // instead of a division chain on the join's hottest expression (the
    // candidate-pair count is the operator's whole cost). Bucket b spans
    // [b·w, (b+1)·w); its start b·w leaves the long range only for the
    // first bucket (below Long.MinValue), its end (b+1)·w only for the
    // last (past Long.MaxValue). So a bucket b >= 0 is checked from its
    // start and a negative one from its end, and each difference is
    // taken only once its first conjunct holds, when it lies in [0, w)
    // or [-w, 0): no intermediate leaves the long range.
    val start = greatest(col(leftLo), col(rightLo))
    val b = col("__bucket")
    val inStartBucket =
      when(b >= 0, {
        val bucketStart = b * bucketWidth
        bucketStart <= start && start - bucketStart < bucketWidth
      }).otherwise({
        val bucketEnd = (b + 1) * bucketWidth
        start < bucketEnd && start - bucketEnd >= -bucketWidth
      })
    expand(left, leftLo, leftHi)
      .join(expand(right, rightLo, rightHi), Seq("__bucket"))
      .filter(col(leftLo) <= col(rightHi) && col(rightLo) <= col(leftHi))
      .filter(inStartBucket)
      .drop("__bucket")
  }

  /** Date-typed adapter for [[intervalOverlap]]. */
  def intervalOverlapDates(left: DataFrame, right: DataFrame,
      leftLo: String, leftHi: String, rightLo: String, rightHi: String,
      bucketWidthDays: Int): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    def days(c: String) = datediff(col(c), epoch).cast("long")
    intervalOverlap(
      left.withColumn("__llo_d", days(leftLo)).withColumn("__lhi_d", days(leftHi)),
      right.withColumn("__rlo_d", days(rightLo)).withColumn("__rhi_d", days(rightHi)),
      "__llo_d", "__lhi_d", "__rlo_d", "__rhi_d", bucketWidthDays.toLong)
      .drop("__llo_d", "__lhi_d", "__rlo_d", "__rhi_d")
  }
}
