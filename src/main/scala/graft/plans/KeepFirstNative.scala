package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, Descending, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Native keep-first-per-key dedup: logical node + strategy + physical
  * operator — the engine's one tier-(c) operator (custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan`), for the one plan shape neither the
  * window nor the aggregate form achieves.
  *
  * Spark offers two ways to express "keep the first row per key under a
  * total order", and both pay for the generality they don't need here:
  *
  *  - `row_number().over(Window.partitionBy(k).orderBy(o…)) === 1` sorts
  *    every partition by (k, o…) TWICE — once before the exchange for the
  *    partial WindowGroupLimit, once after for the final — because the
  *    window machinery can only trim within sorted runs;
  *  - `groupBy(k).agg(min(struct(o…)))` packs every row into a struct and
  *    compares structs field-by-field; `min` over a struct has no
  *    fixed-width aggregation buffer, so BOTH the partial and the final
  *    aggregate plan as SortAggregate — again two full-width sorts, plus
  *    the per-row struct allocation (measured ~2.1 s of q11's 4.8 s at
  *    sf0.1).
  *
  * The optimal physical shape is: hash-exchange on the key, ONE sort by
  * (key, tiebreak…), then a streaming pass that emits the first row of
  * each key run — O(1) state, zero allocation per kept row, no struct
  * packing. That operator is what this file provides. EnsureRequirements
  * inserts the exchange + sort from the declared requirements, so AQE
  * still owns partition counts and skew handling.
  *
  * At cluster scale the trade vs the aggregate form: the aggregate's
  * map-side combine shrinks the shuffle by the duplication factor d, at
  * the price of a full pre-shuffle sort (SortAggregate partial). For
  * dedup workloads d is small (≲2) and the pre-sort touches every row
  * either way, so one post-shuffle sort of d× rows beats two sorts of
  * 1×+d/1× rows for all realistic d; the q77-style banded paths handle
  * corpora where d is genuinely large. Semantics are pinned against an
  * aggregate reference in the test tree by KeepFirstNativeSpec, and by
  * the q11/q13 oracles.
  *
  * Latest mode (`descending`): the tiebreak sorts DESC NULLS LAST, keys
  * stay ascending, so the pass keeps the row `max(struct(tiebreak…))`
  * picks — the storage upsert's keep-latest ([[graft.pipeline.Store]]),
  * pinned against that max-struct form by StoreSpec.
  *
  * Reference behavior: `drop_duplicates(subset=[key], keep='first')`,
  * `transformation.py:64-73`.
  */
case class KeepFirstNode(
    child: LogicalPlan,
    keys: Seq[Attribute],
    tiebreak: Seq[Attribute],
    descending: Boolean = false) extends UnaryNode {
  require(keys.nonEmpty, "KeepFirstNode needs at least one key")
  override def output: Seq[Attribute] = child.output
  // every column survives dedup, so none may be pruned from the child;
  // this also stops filter pushdown — a filter on a NON-key column below
  // the dedup could remove a group's first row and change the pick
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): KeepFirstNode =
    copy(child = newChild)
}

object KeepFirstStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KeepFirstNode(child, keys, tiebreak, descending) =>
      KeepFirstExec(planLater(child), keys, tiebreak, descending) :: Nil
    case _ => Nil
  }
}

case class KeepFirstExec(
    child: SparkPlan,
    keys: Seq[Attribute],
    tiebreak: Seq[Attribute],
    descending: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def references: AttributeSet = child.outputSet

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numDupsDropped" -> SQLMetrics.createMetric(sparkContext, "number of duplicate rows dropped"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  /** Ascending defaults to NULLS FIRST — the same order as the aggregate
    * form's struct-min (nulls smallest) and `asc_nulls_first` windows;
    * Descending to NULLS LAST, the struct-max order. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)) ++
      tiebreak.map(SortOrder(_, if (descending) Descending else Ascending)))

  // the pass consumes rows in their sorted order and only drops rows, so
  // the child's partitioning and ordering both survive
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val keyIdxs = keys.map(k => child.output.indexWhere(_.exprId == k.exprId))
    require(keyIdxs.forall(_ >= 0), "KeepFirstExec: key not found in child output")
    val keyTypes = keys.map(_.dataType)
    val n = keyIdxs.length
    val numOutputRows = longMetric("numOutputRows")
    val numDupsDropped = longMetric("numDupsDropped")
    child.execute().mapPartitions({ iter =>
      val ords = keyTypes.map(TypeUtils.getInterpretedOrdering)
      // previous run's key values, copied out of the iterator's reused row
      val prev = new Array[Any](n)
      var hasPrev = false
      iter.filter { row =>
        var same = hasPrev
        var i = 0
        while (i < n && same) {
          val v = row.get(keyIdxs(i), keyTypes(i))
          same = (v == null && prev(i) == null) ||
            (v != null && prev(i) != null && ords(i).compare(v, prev(i)) == 0)
          i += 1
        }
        if (same) { numDupsDropped += 1; false }
        else {
          i = 0
          while (i < n) {
            val v = row.get(keyIdxs(i), keyTypes(i))
            prev(i) = if (v == null) null else InternalRow.copyValue(v)
            i += 1
          }
          hasPrev = true
          numOutputRows += 1
          true
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): KeepFirstExec =
    copy(child = newChild)
}
