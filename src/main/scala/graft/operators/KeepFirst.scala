package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

/** Public wrapper for the native keep-first dedup
  * ([[graft.plans.KeepFirstExec]]): resolves the key/tiebreak columns on
  * the analyzed plan and registers the planner strategy idempotently via
  * the public `experimental.extraStrategies` hook
  * ([[org.apache.spark.sql.graftbridge.Bridge.registerStrategy]]).
  *
  * `tiebreak` must totally order rows within a key group for the pick to
  * be deterministic — callers pass every non-key column
  * ([[graft.pipeline.Clean.KeepFirstTiebreak]] ++ rest). */
object KeepFirst {

  private def containsFloat(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => containsFloat(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => containsFloat(a.elementType)
    case m: org.apache.spark.sql.types.MapType => containsFloat(m.keyType) || containsFloat(m.valueType)
    case _ => false
  }

  def native(df0: DataFrame, keys: Seq[String], tiebreak: Seq[String]): DataFrame = {
    // Column names resolve with the SESSION's resolver (case-insensitive
    // unless spark.sql.caseSensitive) — an exact-case schema lookup would
    // silently skip the float normalization (and the nested-float
    // rejection) for a key passed in a different case, reintroducing the
    // -0.0/0.0 run-split divergence the normalization exists to prevent.
    val resolver = df0.sparkSession.sessionState.analyzer.resolver
    def resolved(d: DataFrame, n: String): String =
      d.schema.collect { case f if resolver(f.name, n) => f.name } match {
        case Seq(one) => one
        case Seq() =>
          throw new IllegalArgumentException(s"keepFirst: column $n not found")
        case many => throw new IllegalArgumentException(
          s"keepFirst: column $n is ambiguous (${many.mkString(", ")})")
      }
    val keyNames = keys.map(resolved(df0, _))
    val tiebreakNames = tiebreak.map(resolved(df0, _))
    // Catalyst's NormalizeFloatingNumbers rule canonicalizes -0.0 → 0.0
    // for Aggregate/Window/Join keys but not for custom nodes, so a
    // float-typed key with both zero signs would form TWO runs here while
    // the aggregate form merges them. Canonicalize top-level float/double
    // keys before the sort (so grouping, run order, AND the kept row all
    // match the aggregate pick); reject floats nested inside a key type.
    val df = keyNames.foldLeft(df0) { (d, k) =>
      d.schema.find(_.name == k).map(_.dataType) match {
        case Some(FloatType) =>
          d.withColumn(k, when(col(k) === lit(0.0f), lit(0.0f)).otherwise(col(k)))
        case Some(DoubleType) =>
          d.withColumn(k, when(col(k) === lit(0.0d), lit(0.0d)).otherwise(col(k)))
        case Some(t) if containsFloat(t) =>
          throw new IllegalArgumentException(
            s"keepFirst: key $k has float-typed nested fields ($t); " +
              "-0.0/0.0 grouping would diverge from the aggregate form — " +
              "normalize or cast the key first")
        case _ => d
      }
    }
    val spark = df.sparkSession
    Bridge.registerStrategy(spark, graft.plans.KeepFirstStrategy)
    val plan = Bridge.analyzed(df)
    def attr(n: String) = plan.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"keepFirst: column $n not found"))
    Bridge.ofRows(spark,
      graft.plans.KeepFirstNode(plan, keyNames.map(attr), tiebreakNames.map(attr)))
  }
}
