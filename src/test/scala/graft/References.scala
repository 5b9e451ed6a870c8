package graft

import graft.pipeline.Clean
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Plain-composition reference forms of the engine's keyed operators. The
  * differential specs check each production operator row-for-row against
  * these; none of them is meant to be fast. */
object References {

  /** Keep-first per key as `min(struct(tiebreak…, rest…))`: Spark's struct
    * ordering compares field by field with nulls smallest, i.e.
    * `ASC NULLS FIRST`, so the minimum is the first row under the same
    * total order [[Clean.dedupKeepFirst]] sorts by. Its map-side partial
    * aggregate collapses duplicates before the exchange, which PlansSpec's
    * regime-dial case measures against the native operator. */
  def keepFirstAgg(df: DataFrame, key: String = "order_id",
      orderCols: Seq[String] = Clean.KeepFirstTiebreak): DataFrame = {
    val cols = df.columns.toSeq
    if (!cols.contains(key)) df
    else {
      val tiebreak = orderCols.filter(cols.contains)
      val rest = cols.filterNot(c => c == key || tiebreak.contains(c))
      if (tiebreak.isEmpty && rest.isEmpty) df.dropDuplicates(key)
      else {
        val packed = struct((tiebreak ++ rest).map(col): _*)
        df.groupBy(col(key)).agg(min(packed).as("__row"))
          .select(cols.map(c =>
            if (c == key) col(c) else col(s"__row.$c").as(c)): _*)
      }
    }
  }

  /** Keep-latest per key as `max(struct(orderCol, __gen, rest…))`: struct
    * fields compare with nulls smallest, so the maximum is the first row
    * under `(orderCol, __gen, rest…) DESC NULLS LAST` — latest arrival,
    * then the higher generation (`__gen`, incoming over stored), then the
    * remaining columns. The `__gen` column is dropped from the result.
    * Pins [[graft.pipeline.Store]]'s keep-latest merge. */
  def keepLatestAgg(df: DataFrame, key: String = "order_id",
      orderCol: String = "ingested_at"): DataFrame = {
    val outCols = df.columns.toSeq.filterNot(_ == "__gen")
    val ordCols = Seq(orderCol, "__gen").filter(df.columns.contains)
    val rest = outCols.filterNot(c => c == key || ordCols.contains(c))
    if (ordCols.isEmpty && rest.isEmpty) df.dropDuplicates(key)
    else {
      val packed = struct((ordCols ++ rest).map(col): _*)
      df.groupBy(col(key)).agg(max(packed).as("__row"))
        .select(outCols.map(c =>
          if (c == key) col(c) else col(s"__row.$c").as(c)): _*)
    }
  }

  /** As-of join by brute force, with the signature of
    * [[graft.operators.AsOfJoin.asof]]: a left-outer equi-join on `key`
    * with `right.rightTime <= left.leftTime`, then per left row the one
    * candidate with the greatest `(rightTime, tiebreak)`. Materializes
    * every candidate pair, so it is for small test frames only. SQL null
    * semantics keep null keys and times from matching. */
  def asof(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      valueCols: Map[String, String], tiebreak: String): DataFrame = {
    val pairs = valueCols.toSeq
    val l = left.withColumn("__lid", monotonically_increasing_id())
    val r = right.select(Seq(col(key).as("__rk"), col(rightTime).as("__rt"),
      col(tiebreak).as("__rtb")) ++
      pairs.map { case (in, out) => col(in).as(out) }: _*)
    val byRecency = Window.partitionBy("__lid")
      .orderBy(col("__rt").desc, col("__rtb").desc)
    l.join(r, col(key) === col("__rk") && col("__rt") <= col(leftTime),
        "left_outer")
      .withColumn("__rn", row_number().over(byRecency))
      .filter(col("__rn") === 1)
      .select((left.columns.toSeq ++ pairs.map(_._2)).map(col): _*)
  }
}
