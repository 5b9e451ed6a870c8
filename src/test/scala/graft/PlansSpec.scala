package graft

/** Keep-first plan trade-off: the native [[graft.plans.KeepFirstExec]]
  * against the map-side-combining aggregate form
  * ([[References.keepFirstAgg]]). */
class PlansSpec extends SparkSpec {

  import spark.implicits._

  test("regime dial: at large duplication factor d the aggregate form's map-side combine shuffles ~1/d of the rows; the native form shuffles all of them") {
    // the documented dial (KeepFirstNative.scala): native wins for small d
    // (one sort of d× rows vs two full-width sorts), the aggregate wins for
    // LARGE d because its partial combine collapses duplicates BEFORE the
    // exchange. Prove the collapse with the shuffle-write metrics.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val d = 50
    val keys = 200
    val rows = for { k <- 0 until keys; i <- 0 until d } yield (k, i, s"v$i")
    val df = rows.toDF("k", "o", "v").coalesce(4)
    def shuffledRows(out: org.apache.spark.sql.DataFrame): Long = {
      out.collect()
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case o => o.children.flatMap(nodes)
      })
      nodes(out.queryExecution.executedPlan).collect {
        case x: ShuffleExchangeExec => x.metrics("shuffleRecordsWritten").value
      }.sum
    }
    val nat = graft.operators.KeepFirst.native(df, Seq("k"), Seq("o", "v"))
    val agg = References.keepFirstAgg(df, key = "k", orderCols = Seq("o", "v"))
    assert(nat.collect().map(_.toSeq).toSet == agg.collect().map(_.toSeq).toSet)
    val sNat = shuffledRows(nat)
    val sAgg = shuffledRows(agg)
    assert(sNat == keys.toLong * d, s"native must shuffle every input row, wrote $sNat")
    // partial-agg output is bounded by keys × input tasks (200 × 4), far
    // below the 10 000 input rows — the combine is engaged
    assert(sAgg <= keys.toLong * 4, s"aggregate combine did not collapse dups: wrote $sAgg")
  }
}
