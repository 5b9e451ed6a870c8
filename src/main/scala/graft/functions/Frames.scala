package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Collect-and-re-emit helpers for BOUNDED metadata frames (IVF
  * centroids, rank-selection bucket targets, per-group stats — the
  * driver-side index-metadata class, never corpus data).
  *
  * Why re-emit instead of referencing the producing DataFrame: every
  * reference to a computed subtree re-executes it per enclosing job
  * (exchange reuse only applies within one execution), and a union
  * branch that is empty at runtime still pays its subtree's scans. A
  * literal local relation broadcasts VALUES, and lets the caller decide
  * plan SHAPE from the collected rows (see
  * `Profiling.selectAtRanks`). */
object Frames {

  def frameOf(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Execute `df` (must be bounded metadata) and re-emit it as a literal
    * local relation. */
  def literalize(df: DataFrame): DataFrame =
    frameOf(df.sparkSession, df.collect(), df.schema)
}
