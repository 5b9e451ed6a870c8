package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

/** The union-tag as-of join ([[AsOfJoin.asof]], the engine's only as-of
  * form) against the brute-force reference ([[References.asof]]) and on
  * the null and no-match edge cases. */
class AsOfNativeSpec extends SparkSpec {

  private def purchases = Tables.events(spark, sf)
    .filter(col("event_type") === "purchase").select("event_id", "user_id", "ts")
  private def signups = Tables.events(spark, sf)
    .filter(col("event_type") === "signup")
    .select(col("event_id"), col("user_id"), col("ts"), col("value"))

  test("union-tag as-of equals the brute-force reference row-for-row") {
    val vals = Map("event_id" -> "signup_event_id", "value" -> "signup_value")
    val got = AsOfJoin.asof(purchases, signups, "user_id", "ts", "ts",
      vals, "event_id")
    val want = References.asof(purchases, signups, "user_id", "ts", "ts",
      vals, "event_id")
    assert(got.count() == purchases.count(), "left-outer: one row per left row")
    assert(got.filter(col("signup_event_id").isNotNull).count() > 0,
      "fixture has no matched rows")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "union-tag as-of and the brute-force reference disagree")
  }

  test("null right values carry atomically; null keys/times never match") {
    import spark.implicits._
    // right rows: (k=1,t=10) has v=5/w=1; (k=1,t=20) has v=null/w=2 — a
    // left row at t=30 must get the WHOLE t=20 row (null v included), not
    // an older v grafted onto a newer w. Null-key/time rows never match.
    val l = Seq((Option(1L), Option(30L)), (Option.empty[Long], Option(30L)),
      (Option(2L), Option.empty[Long]))
      .toDF("user_id", "ts")
    def r = Seq(
      (Option(1L), Option(10L), Option(5.0), Option(1L)),
      (Option(1L), Option(20L), Option.empty[Double], Option(2L)),
      (Option.empty[Long], Option(10L), Option(9.0), Option(3L)),
      (Option(2L), Option.empty[Long], Option(9.0), Option(4L)))
      .toDF("user_id", "ts", "v", "w")
    val vals = Map("v" -> "m_v", "w" -> "m_w")
    val got = AsOfJoin.asof(l, r, "user_id", "ts", "ts", vals, "w")
      .orderBy("user_id")
    val want = References.asof(l, r, "user_id", "ts", "ts", vals, "w")
      .orderBy("user_id")
    for (out <- Seq(got, want)) {
      val rows = out.collect()
      assert(rows.length == 3)
      val matched = rows.find(x => !x.isNullAt(x.fieldIndex("m_w")) &&
        x.getAs[Long]("m_w") == 2L)
        .getOrElse(fail(s"t=20 row not matched in ${rows.mkString(";")}"))
      assert(matched.isNullAt(matched.fieldIndex("m_v")),
        "older v grafted over the matched row's null v")
      assert(rows.count(x => x.isNullAt(x.fieldIndex("m_w"))) == 2,
        "null-key/null-time left rows must not match")
    }
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("left rows before any right match carry nulls") {
    import spark.implicits._
    val l = Seq((1L, 10L, 100.0), (1L, 30L, 200.0), (2L, 5L, 300.0))
      .toDF("k", "t", "lv")
    val r = Seq((1L, 20L, 7.0)).toDF("k", "t", "rv")
    val out = AsOfJoin.asof(
      l.select(col("k").as("user_id"), col("t").as("ts"), col("lv")),
      r.select(col("k").as("user_id"), col("t").as("ts"), col("rv"),
        col("t").as("tb")),
      "user_id", "ts", "ts", Map("rv" -> "rv_out"), "tb")
      .orderBy("user_id", "ts").collect()
    assert(out.length == 3)
    assert(out(0).isNullAt(out(0).fieldIndex("rv_out")), "t=10 precedes r@20")
    assert(out(1).getAs[Double]("rv_out") == 7.0, "t=30 matches r@20")
    assert(out(2).isNullAt(out(2).fieldIndex("rv_out")), "key 2 has no right rows")
  }
}
