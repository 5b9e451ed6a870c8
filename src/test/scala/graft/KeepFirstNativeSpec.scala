package graft

import graft.operators.KeepFirst
import graft.pipeline.Clean
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[graft.plans.KeepFirstExec]]: the native keep-first dedup matches the
  * aggregate reference ([[References.keepFirstAgg]]) row-for-row
  * (including null keys and null tiebreaks) and plans as exactly one
  * exchange + one sort + the streaming pass. */
class KeepFirstNativeSpec extends SparkSpec {

  import spark.implicits._

  // dup keys, a null key group, null tiebreak values, and a singleton
  private def fixture = Seq(
    (Some("a"), Some(3), Some("x")),
    (Some("a"), Some(1), Some("y")),
    (Some("a"), Some(1), None), // null tiebreak sorts first within o=1
    (Some("a"), Some(1), None), // exact duplicate row
    (None, Some(9), Some("n1")),
    (None, Some(2), Some("n2")), // null keys form ONE group
    (Some("b"), None, Some("w")), // null first-tiebreak wins for b
    (Some("b"), Some(5), Some("w")),
    (Some("c"), Some(4), Some("q")))
    .toDF("k", "o", "v")

  test("native pick equals the min-struct aggregate pick") {
    val nat = Clean.dedupKeepFirst(fixture, key = "k", orderCols = Seq("o", "v"))
    val agg = References.keepFirstAgg(fixture, key = "k", orderCols = Seq("o", "v"))
    assert(nat.columns.toSeq == fixture.columns.toSeq)
    val n = nat.collect().map(_.toSeq).toSet
    val a = agg.collect().map(_.toSeq).toSet
    assert(n == a, s"native $n != aggregate $a")
    assert(n.size == 4) // a, b, c, and the null-key group
  }

  test("native pick equals the aggregate pick on the real dirty domain with planted dups") {
    val dirty = pipeline.OrdersDomain.dirtyFromTpch(spark, sf)
    // planted later-arriving duplicates: a third of the keys twice
    val withDups = dirty.unionAll(dirty.filter(col("api_post_id") % 3 === 0)
      .withColumn("ingested_at", col("ingested_at") + expr("INTERVAL 1 DAY")))
    val nat = Clean.dedupKeepFirst(withDups)
    val agg = References.keepFirstAgg(withDups)
    // the dirty domain itself carries duplicate order_ids (duplicate
    // (l_orderkey, l_linenumber) pairs in the generator), so the ground
    // truth is the distinct-key count, NOT dirty.count()
    assert(nat.count() == withDups.select("order_id").distinct().count())
    assert(nat.exceptAll(agg).count() == 0 && agg.exceptAll(nat).count() == 0)
  }

  test("multi-key grouping and column-order preservation") {
    val df = Seq((1, "x", 9.0), (1, "x", 3.0), (1, "y", 5.0), (2, "x", 7.0))
      .toDF("k1", "k2", "m")
    val out = KeepFirst.native(df, Seq("k1", "k2"), Seq("m"))
    assert(out.columns.toSeq == Seq("k1", "k2", "m"))
    assert(out.orderBy("k1", "k2").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1, "x", 3.0), Seq(1, "y", 5.0), Seq(2, "x", 7.0)))
  }

  test("physical plan: one exchange, one sort, no SortAggregate, no window") {
    val dirty = pipeline.OrdersDomain.dirtyFromTpch(spark, sf)
    // build ONE DataFrame, materialize IT, then inspect the AQE final plan
    // of that same queryExecution (a fresh instance would still carry an
    // unresolved AdaptiveSparkPlanExec with isFinalPlan=false)
    val df = Clean.dedupKeepFirst(dirty)
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import Executions.nodes
    // AQE hides operators inside materialized query stages (leaves to
    // TreeNode.collect), so flatten the whole tree through them
    val all = nodes(df.queryExecution.executedPlan)
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("KeepFirst"), s)
    assert(!s.contains("SortAggregate"), "dedup regressed to SortAggregate")
    assert(!s.contains("WindowGroupLimit"), "dedup regressed to the window form")
    val keepFirst = all.filter(_.getClass.getSimpleName == "KeepFirstExec")
    assert(keepFirst.size == 1, s"expected one KeepFirstExec in:\n$s")
    // the sort fuses into a WholeStageCodegen span — strip wrappers
    def strip(p: SparkPlan): SparkPlan = p match {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => strip(w.child)
      case o => o
    }
    val below = keepFirst.head.children.head
    assert(strip(below).isInstanceOf[SortExec], s"child of KeepFirstExec is $below")
    // below the dedup's sort: exactly the dedup's hash exchange (the
    // 4-table dirty-domain build is all broadcast joins, so any second
    // shuffle here is a plan regression)
    val exchanges = nodes(below).filter(_.isInstanceOf[ShuffleExchangeExec])
    assert(exchanges.size == 1,
      s"expected exactly the dedup exchange below the sort, got:\n$below")
  }

  test("float keys: -0.0 and 0.0 form ONE group and the pick matches the aggregate form") {
    // without normalization the sort puts -0.0's rows before 0.0's, so the
    // native pick would be min-tiebreak of the -0.0 SUBgroup, not of the
    // merged group like the aggregate form — both grouping and pick matter
    val df = Seq((-0.0, 5, "neg"), (0.0, 1, "pos"), (1.5, 2, "other"))
      .toDF("k", "o", "v")
    val nat = KeepFirst.native(df, Seq("k"), Seq("o", "v"))
    val agg = References.keepFirstAgg(df, key = "k", orderCols = Seq("o", "v"))
    val n = nat.collect().map(_.toSeq).toSet
    assert(n == agg.collect().map(_.toSeq).toSet, s"native $n diverges from aggregate")
    assert(n.size == 2 && n.exists(_ == Seq(0.0, 1, "pos")))
  }

  test("float-typed nested key fields are rejected loudly") {
    val df = Seq((1.0, 2)).toDF("x", "o").select(struct(col("x")).as("k"), col("o"))
    val e = intercept[IllegalArgumentException](
      KeepFirst.native(df, Seq("k"), Seq("o")))
    assert(e.getMessage.contains("float-typed"))
  }

  test("unknown column fails loudly") {
    val df = Seq((1, 2)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](
      KeepFirst.native(df, Seq("missing"), Seq("b")))
    assert(e.getMessage.contains("missing"))
  }

  test("keys resolve with the session resolver: a differently-cased float key still normalizes -0.0") {
    // Spark resolves column names case-insensitively by default; an
    // exact-case schema lookup would skip the -0.0 normalization for "K"
    // and split the zero group into two runs
    val df = Seq((-0.0, 5, "neg"), (0.0, 1, "pos"), (1.5, 2, "other"))
      .toDF("k", "o", "v")
    val nat = KeepFirst.native(df, Seq("K"), Seq("O", "v"))
    val agg = References.keepFirstAgg(df, key = "k", orderCols = Seq("o", "v"))
    val n = nat.collect().map(_.toSeq).toSet
    assert(n == agg.collect().map(_.toSeq).toSet,
      s"case-insensitive key skipped normalization: $n")
    assert(n.size == 2 && n.exists(_ == Seq(0.0, 1, "pos")))
    // and the nested-float rejection fires regardless of case too
    val nested = Seq((1.0, 2)).toDF("x", "o")
      .select(struct(col("x")).as("k"), col("o"))
    val e = intercept[IllegalArgumentException](
      KeepFirst.native(nested, Seq("K"), Seq("o")))
    assert(e.getMessage.contains("float-typed"))
  }
}
