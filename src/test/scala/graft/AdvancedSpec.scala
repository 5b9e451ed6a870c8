package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class AdvancedSpec extends SparkSpec {

  test("DSv2 posts source: one partition per page, schema, determinism") {
    val df = spark.read.format("graft.sources.PostsDataSource")
      .option("limit", "250").option("pageSize", "100").load()
    assert(df.columns.toSeq == Seq("id", "userId", "title", "body"))
    assert(df.count() == 250)
    assert(df.rdd.getNumPartitions == 3) // ceil(250/100) pages
    // jsonplaceholder shape: 10 posts per user
    assert(df.filter(col("userId") === 1).count() == 10)
    val again = spark.read.format("graft.sources.PostsDataSource")
      .option("limit", "250").option("pageSize", "100").load()
    assert(df.exceptAll(again).count() == 0)
  }

  test("DSv2 limit pushdown trims the page plan") {
    val df = spark.read.format("graft.sources.PostsDataSource")
      .option("limit", "500").option("pageSize", "100").load()
      .limit(42)
    assert(df.count() == 42)
    // pushed limit 42 → a single 100-row page planned, not 5: assert on
    // the BatchScan's actual input partitions (the limit operator itself
    // always runs single-partition, so rdd partition counts prove nothing)
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "no BatchScan planned")
    assert(scans.head.inputPartitions.length == 1,
      s"limit not pushed: ${scans.head.inputPartitions.length} pages planned")
  }

  test("DSv2 column pruning shrinks the scan schema to the projection") {
    val df = spark.read.format("graft.sources.PostsDataSource")
      .option("limit", "100").option("pageSize", "50").load()
      .select("id", "title")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "no BatchScan planned")
    // the SCAN must carry only the projected columns (over HTTP this is
    // the ?_fields= page parameter) — a post-scan Project proves nothing
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("id", "title"),
      s"scan not pruned: ${scans.head.scan.readSchema()}")
    val rows = df.orderBy("id").limit(2).collect()
    assert(rows.map(_.toSeq).toSeq == Seq(
      Seq(1L, "post 1 about phone cases"), Seq(2L, "post 2 about computer parts")))
    // pruning composes with aggregate pushout: count(*) prunes to zero cols
    val n = spark.read.format("graft.sources.PostsDataSource")
      .option("limit", "73").option("pageSize", "50").load().count()
    assert(n == 73)
  }

  test("DSv2 resilience: a transport failing twice per page recovers and matches the clean scan") {
    import graft.sources.{PostsTransport, PostsTransports, PostsFetcher}
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val failuresByPage = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    PostsTransports.register("flaky2", new PostsTransport {
      def fetchPage(page: Int, pageSize: Int, limit: Int): Seq[(Long, Long, String, String)] = {
        calls.incrementAndGet()
        val seen = failuresByPage.merge(page, 1, (a, b) => a + b)
        if (seen <= 2) throw new RuntimeException(s"injected failure $seen for page $page")
        PostsFetcher.fetchPage(page, pageSize, limit)
      }
    })
    val flaky = spark.read.format("graft.sources.PostsDataSource")
      .option("limit", "250").option("pageSize", "100")
      .option("transport", "flaky2").option("maxRetries", "3")
      .option("backoffMs", "1").load()
    val clean = spark.read.format("graft.sources.PostsDataSource")
      .option("limit", "250").option("pageSize", "100").load()
    // single action on the flaky scan (a second one would re-fetch pages
    // and skew the call count), then set-compare against the clean scan
    val flakyRows = flaky.collect().toSeq
    assert(flakyRows.toSet == clean.collect().toSet && flakyRows.size == 250)
    // 3 pages × (2 failures + 1 success) = 9 transport calls
    assert(calls.get() == 9, s"expected 9 transport calls, got ${calls.get()}")
  }

  test("DSv2 resilience: retries exhaust after maxRetries attempts, then the scan fails") {
    import graft.sources.{PostsTransport, PostsTransports}
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    PostsTransports.register("alwaysDown", new PostsTransport {
      def fetchPage(page: Int, pageSize: Int, limit: Int): Seq[(Long, Long, String, String)] = {
        calls.incrementAndGet()
        throw new RuntimeException("api down")
      }
    })
    val df = spark.read.format("graft.sources.PostsDataSource")
      .option("limit", "100").option("pageSize", "100")
      .option("transport", "alwaysDown").option("maxRetries", "2")
      .option("backoffMs", "1").load()
    val e = intercept[Exception] { df.count() }
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(rootChain(e).exists(m => m != null && m.contains("api down")))
    assert(calls.get() == 2, s"expected exactly 2 attempts, got ${calls.get()}")
  }

  test("DSv2 resilience: per-executor rate limiter paces consecutive acquires") {
    import graft.sources.PostsRateLimiter
    val t0 = System.nanoTime()
    (1 to 3).foreach(_ => PostsRateLimiter.acquire("paceTest", 100.0)) // 10ms interval
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    // first acquire is free; two more must wait ~10ms each
    assert(elapsedMs >= 15.0, s"limiter did not pace: ${elapsedMs}ms for 3 acquires at 100/s")
    // schedules are per key: a different key is NOT queued behind paceTest's
    // reservations (a slow scan must not throttle an unrelated one)
    val t1 = System.nanoTime()
    PostsRateLimiter.acquire("otherEndpoint", 100.0)
    assert((System.nanoTime() - t1) / 1e6 < 5.0, "fresh key waited behind another key's schedule")
    PostsRateLimiter.acquire("paceTest", 0.0) // 0 = unpaced, must not throw or sleep
  }

  test("asof join: inclusive match, no-prior-row yields null, ties right-before-left") {
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("t", TimestampType), StructField("id", LongType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, ts("2024-01-01 10:00:00"), 100L),
      Row(1L, ts("2024-01-01 12:00:00"), 101L),
      Row(2L, ts("2024-01-01 09:00:00"), 102L)), schema)
    val right = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, ts("2024-01-01 10:00:00"), 7L), // equal ts → inclusive match
      Row(1L, ts("2024-01-01 11:30:00"), 8L),
      Row(2L, ts("2024-01-01 09:30:00"), 9L)), schema) // after left → no match
    val out = AsOfJoin.asof(left, right, "k", "t", "t",
      Map("id" -> "matched_id"), tiebreak = "id")
      .orderBy("id").collect()
    assert(out(0).getAs[Long]("matched_id") == 7L)  // inclusive at equal ts
    assert(out(1).getAs[Long]("matched_id") == 8L)  // latest preceding
    assert(out(2).isNullAt(out(2).fieldIndex("matched_id"))) // nothing prior
  }

  test("sessionization: gap splits, single-event sessions allowed") {
    val df = SparkEntry.queries("q42_sessionize")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // session ids are 1..k contiguous per user
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.values.foreach { rs =>
      val ids = rs.map(_.getAs[Long]("session_id")).sorted
      assert(ids.toSeq == (1L to ids.length))
    }
    assert(rows.forall(_.getAs[Long]("duration_sec") >= 0))
  }

  test("anomaly zscore: a planted spike is flagged, calm values are not") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // 30 calm events (value 10±1 alternating) then one 1000.0 spike
    val rows = (0 until 30).map { i =>
      Row(i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i}%02d:00"),
        1L, "load", if (i % 2 == 0) 9.0 else 11.0, "")
    } :+ Row(30L, java.sql.Timestamp.valueOf("2024-01-01 00:30:30"),
      1L, "load", 1000.0, "")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val ev = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-100, -1)
    val stats = ev.select(col("event_id"), col("value"),
      avg(col("value")).over(w).as("mu"),
      stddev_samp(col("value")).over(w).as("sigma"),
      count(col("value")).over(w).as("n_trail"))
    val z = (col("value") - col("mu")) / col("sigma")
    val flagged = stats
      .filter(col("n_trail") >= 20 && col("sigma") > 0 && abs(z) > 3)
      .select("event_id").collect().map(_.getLong(0))
    assert(flagged.toSeq == Seq(30L), s"expected only the spike, got ${flagged.toSeq}")
  }

  test("native session_window ≡ the lag-chain gap sessions on the events table") {
    import graft.queries.Advanced
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, sf)
    // project q42's frames to the id-free shape the built-in produces
    val lagForm = SparkEntry.queries("q42_sessionize")(spark, sf)
      .select(col("user_id"), col("session_start"),
        col("n_events"), col("duration_sec"))
    val builtin = Advanced.sessionWindowStats(ev)
    assert(builtin.count() == lagForm.count(),
      "session counts disagree")
    assert(builtin.exceptAll(lagForm).count() == 0 &&
      lagForm.exceptAll(builtin).count() == 0,
      "native session_window sessions disagree with the gap-rule chain")
  }

  test("range join: boundaries inclusive, degenerate intervals dropped, each pair matches once") {
    import graft.operators.RangeJoin
    import spark.implicits._
    // negative coords + spans crossing several buckets + exact-boundary
    // points; W=10 so interval c spans buckets -1..2
    val points = Seq(-10L, -1L, 0L, 5L, 9L, 10L, 20L, 25L).toDF("p")
    val intervals = Seq(
      ("a", -10L, -1L),   // negative-only span
      ("b", 0L, 9L),      // exactly one bucket
      ("c", -5L, 25L),    // four buckets (-1, 0, 1, 2)
      ("d", 20L, 20L),    // single point
      ("e", 7L, 3L)       // degenerate lo > hi: dropped
    ).toDF("iv", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", 10L)
      .select("p", "iv").as[(Long, String)].collect().toSet
    val want = (for {
      p <- Seq(-10L, -1L, 0L, 5L, 9L, 10L, 20L, 25L)
      (iv, lo, hi) <- Seq(("a", -10L, -1L), ("b", 0L, 9L), ("c", -5L, 25L),
        ("d", 20L, 20L))
      if p >= lo && p <= hi
    } yield (p, iv)).toSet
    assert(got == want)
    // once each: the DataFrame row count equals the distinct pair count
    val n = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", 10L)
      .count()
    assert(n == want.size, s"bucket expansion duplicated pairs: $n != ${want.size}")
    // width is a dial, not semantics: W=1 / W=3 / W=1000 all agree
    for (w <- Seq(1L, 3L, 1000L))
      assert(RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", w)
        .select("p", "iv").as[(Long, String)].collect().toSet == want, s"W=$w")
  }

  test("q146 bucketed range join ≡ the naive inequality join, and plans hash-joins only") {
    import graft.queries.Advanced
    val days = Advanced.probeDays(spark)
    val iv = Advanced.orderWindows(Tables.orders(spark, sf))
    val naive = days.join(iv, col("day") >= col("lo") && col("day") <= col("hi"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_open"), sum(col("cents")).as("open_cents"))
    val bucketed = SparkEntry.queries("q146_range_join_open_orders")(spark, sf)
    assert(bucketed.exceptAll(naive).count() == 0 &&
      naive.exceptAll(bucketed).count() == 0,
      "bucketed range join diverged from the inequality-join ground truth")
    // the rewrite earns its keep: the naive spelling nested-loops, the
    // bucketed one must not
    assert(naive.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "naive inequality join no longer nested-loops — reassess the rewrite")
    bucketed.collect()
    val p = bucketed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bucketed range join fell back to a nested loop:\n$p")
  }

  test("intervalOverlap: inclusive-boundary semantics, exactly-once emission, degenerate drop, W dial") {
    import graft.operators.RangeJoin
    import spark.implicits._
    // spans crossing bucket lines, negative coordinates, single-point
    // touch (hi == lo), containment, and degenerates (lo > hi, null)
    val left = Seq(("L1", -10L, -1L), ("L2", 0L, 9L), ("L3", 9L, 30L),
      ("L4", 15L, 15L), ("L5", 7L, 3L)).toDF("lid", "llo", "lhi")
      .union(Seq(("L6", None: Option[Long], Some(5L)))
        .toDF("lid", "llo", "lhi"))
    val right = Seq(("R1", -3L, 0L), ("R2", 9L, 9L), ("R3", 10L, 14L),
      ("R4", -100L, 100L), ("R5", 16L, 2L)).toDF("rid", "rlo", "rhi")
    val want = (for {
      (lid, llo, lhi) <- Seq(("L1", -10L, -1L), ("L2", 0L, 9L),
        ("L3", 9L, 30L), ("L4", 15L, 15L))
      (rid, rlo, rhi) <- Seq(("R1", -3L, 0L), ("R2", 9L, 9L),
        ("R3", 10L, 14L), ("R4", -100L, 100L))
      if llo <= rhi && rlo <= lhi
    } yield (lid, rid)).toSet
    for (w <- Seq(1L, 4L, 10L, 1000L)) {
      val rows = RangeJoin.intervalOverlap(left, right,
        "llo", "lhi", "rlo", "rhi", w)
        .select("lid", "rid").as[(String, String)].collect()
      assert(rows.toSet == want, s"W=$w wrong pair set")
      assert(rows.length == want.size,
        s"W=$w duplicated pairs: ${rows.length} != ${want.size}")
    }
  }

  test("intervalOverlap: overlapping spans in the last bucket below Long.MaxValue emit one pair") {
    import graft.operators.RangeJoin
    import spark.implicits._
    // both spans sit in [Long.MaxValue - w + 1, Long.MaxValue] and overlap
    // at one point whose bucket is the last one, where the bucket's
    // exclusive end (b + 1)·w is past Long.MaxValue; under ANSI an
    // overflowing bound check fails the query instead of emitting the pair
    for (w <- Seq(1L, 8L, 10L)) {
      val mid = Long.MaxValue - w / 2
      val left = Seq(("L", Long.MaxValue - w + 1, mid)).toDF("lid", "llo", "lhi")
      val right = Seq(("R", mid, Long.MaxValue)).toDF("rid", "rlo", "rhi")
      val rows = RangeJoin.intervalOverlap(left, right,
        "llo", "lhi", "rlo", "rhi", w)
        .select("lid", "rid").as[(String, String)].collect()
      assert(rows.toSeq == Seq(("L", "R")), s"W=$w: ${rows.mkString(", ")}")
    }
  }

  test("scd2: intervals chain half-open per key, exactly one current, ties deterministic") {
    import graft.operators.Scd2
    import spark.implicits._
    // key A: three changes incl. a same-day tie; key B: one change
    val log = Seq(
      (1L, "P", "2024-01-10", 100L), (1L, "O", "2024-01-10", 101L),
      (1L, "F", "2024-03-01", 102L), (2L, "F", "2024-02-02", 200L))
      .toDF("k", "status", "d", "seq")
      .withColumn("d", to_date(col("d")))
    val dim = Scd2.fromChangeLog(log, Seq("k"), "d", Seq("seq"))
      .select("k", "status", "valid_from", "valid_to", "is_current")
      .as[(Long, String, java.sql.Date, java.sql.Date, Boolean)]
      .collect().sortBy(r => (r._1, Option(r._4).map(_.toString).getOrElse("~"), r._3.toString))
    // exactly one open (current) version per key
    assert(dim.filter(_._5).map(_._1).toSeq.sorted == Seq(1L, 2L))
    // key A chains: P@01-10 -> O@01-10 (zero-length tie kept) -> F open
    val a = dim.filter(_._1 == 1L).sortBy(r => (r._3.toString, r._2 == "O", !r._5))
    val aChain = Seq(
      ("P", "2024-01-10", "2024-01-10", false),
      ("O", "2024-01-10", "2024-03-01", false),
      ("F", "2024-03-01", null, true))
    assert(a.map(r => (r._2, r._3.toString,
      Option(r._4).map(_.toString).orNull, r._5)).toSeq ==
      aChain.map(c => (c._1, c._2, c._3, c._4)))
    // half-open chaining ⇒ closed intervals never overlap and have no gap
    a.sliding(2).foreach {
      case Array(prev, next) => assert(prev._4 == next._3,
        s"validity gap/overlap: ${prev._4} != ${next._3}")
      case _ =>
    }
  }

  test("gap fill: dense frame covers every key x month, absent cells zero-filled, present cells untouched") {
    import graft.operators.GapFill
    import spark.implicits._
    val keys = Seq("k1", "k1", "k2").toDF("k") // dup collapses via distinct
    val frame = GapFill.denseMonths(keys, "month", "2024-01-01", "2024-04-01")
    assert(frame.count() == 8, "2 keys x 4 months")
    val sparse = Seq(("k1", "2024-02-01", 5L, 100L))
      .toDF("k", "month", "n", "c")
      .withColumn("month", to_date(col("month")))
    val filled = GapFill.fillGaps(frame, sparse, Seq("k"), "month", Seq("n", "c"))
      .select("k", "month", "n", "c")
      .as[(String, java.sql.Date, Long, Long)].collect()
    assert(filled.length == 8)
    assert(filled.count(r => r._3 == 0L && r._4 == 0L) == 7)
    val hit = filled.filter(r => r._1 == "k1" && r._2.toString == "2024-02-01")
    assert(hit.toSeq == Seq(("k1", java.sql.Date.valueOf("2024-02-01"), 5L, 100L)))
  }

  test("scd2 incremental maintenance: apply ≡ rebuild, replay idempotent, late change splits the right interval") {
    import graft.queries.Advanced
    import graft.operators.Scd2
    val log = Advanced.orderStatusChanges(Tables.orders(spark, sf))
    val keys = Seq("o_custkey")
    // split the real change log at a date boundary; fold the tail in
    val head = log.filter(col("change_date") < "1996-01-01")
    val tail = log.filter(col("change_date") >= "1996-01-01")
    val full = Scd2.fromChangeLog(log, keys, "change_date", Seq("o_orderkey"))
    val inc = Scd2.applyChanges(
      Scd2.fromChangeLog(head, keys, "change_date", Seq("o_orderkey")),
      tail, keys, "change_date", Seq("o_orderkey"))
    assert(inc.exceptAll(full).count() == 0 && full.exceptAll(inc).count() == 0,
      "incremental SCD2 apply diverged from the full rebuild")
    // at-least-once redelivery: folding the SAME batch again is a no-op
    val replay = Scd2.applyChanges(inc, tail, keys, "change_date", Seq("o_orderkey"))
    assert(replay.exceptAll(full).count() == 0 && full.exceptAll(replay).count() == 0,
      "replaying an already-applied batch minted duplicate versions")
    // a LATE change (older than the dim's newest version for its key)
    // lands inside the chain: same end state as a from-scratch build
    import spark.implicits._
    val lateLog = Seq((7L, "O", "2024-01-01", 1L), (7L, "F", "2024-03-01", 2L))
      .toDF("o_custkey", "o_orderstatus", "change_date", "o_orderkey")
      .withColumn("change_date", to_date(col("change_date")))
    val late = Seq((7L, "P", "2024-02-01", 3L))
      .toDF("o_custkey", "o_orderstatus", "change_date", "o_orderkey")
      .withColumn("change_date", to_date(col("change_date")))
    val folded = Scd2.applyChanges(
      Scd2.fromChangeLog(lateLog, keys, "change_date", Seq("o_orderkey")),
      late, keys, "change_date", Seq("o_orderkey"))
    val expect = Scd2.fromChangeLog(lateLog.unionByName(late),
      keys, "change_date", Seq("o_orderkey"))
    assert(folded.exceptAll(expect).count() == 0 &&
      expect.exceptAll(folded).count() == 0,
      "late change did not split the interval it falls inside")
    // and the O->P->F chain is what a reader sees
    val mid = folded.filter(col("o_orderstatus") === "P").collect().head
    assert(mid.getAs[java.sql.Date]("valid_from").toString == "2024-02-01" &&
      mid.getAs[java.sql.Date]("valid_to").toString == "2024-03-01")
  }

  test("q147 bucketed interval-overlap join ≡ the naive inequality join, and plans hash-joins only") {
    import graft.queries.Advanced
    val pw = Advanced.promoWindows(spark)
    val iv = Advanced.orderWindows(Tables.orders(spark, sf))
    val naive = pw.join(iv, col("plo") <= col("hi") && col("lo") <= col("phi"))
      .groupBy("promo_id")
      .agg(count(lit(1)).as("n_overlap"), sum(col("cents")).as("overlap_cents"))
    val bucketed = SparkEntry.queries("q147_interval_overlap_promos")(spark, sf)
    assert(bucketed.exceptAll(naive).count() == 0 &&
      naive.exceptAll(bucketed).count() == 0,
      "bucketed interval-overlap join diverged from the inequality-join ground truth")
    bucketed.collect()
    val p = bucketed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bucketed interval-overlap join fell back to a nested loop:\n$p")
  }

  test("q157 sliding distinct: planted day membership, window clamping, estimate envelope") {
    import spark.implicits._
    // day 1 carries users {1,2}; day 8 carries {2,3}. A day-d row belongs
    // to window starts [d−6, d] clamped at the axis origin, so day 1 feeds
    // ONLY the Jan-1 window (its earlier windows are clamped away) and
    // day 8 feeds Jan-2 … Jan-8; the two days never share a window
    // (Jan-1's span ends Jan 7). Windows with no covered day emit no row.
    val ev = Seq(
      ("2024-01-01 10:00:00", 1L), ("2024-01-01 11:00:00", 2L),
      ("2024-01-08 09:00:00", 2L), ("2024-01-08 10:00:00", 3L))
      .toDF("ts0", "user_id")
      .select(to_timestamp(col("ts0")).as("ts"), col("user_id"))
    val rows = queries.Advanced.slidingDistinctUsers(ev).collect()
    assert(rows.length == 8, s"expected 8 covered windows, got ${rows.length}")
    val byW = rows.map(r => r.getAs[java.sql.Date]("window_start").toString -> r).toMap
    assert(byW("2024-01-01").getAs[Long]("exact_users") == 2)
    assert(byW("2024-01-01").getAs[Long]("n_days") == 1)
    assert(byW("2024-01-02").getAs[Long]("exact_users") == 2)
    assert(byW("2024-01-08").getAs[Long]("exact_users") == 2)
    assert(!byW.contains("2024-01-09"), "window past the last data day")
    rows.foreach(r => assert(r.getAs[Boolean]("est_ok"),
      s"HLL estimate outside envelope at ${r.getAs[java.sql.Date]("window_start")}"))
  }

  test("q162 trend slope: planted rising/falling/flat series get exact integer slopes") {
    import spark.implicits._
    // one event per day for 10 days, y = x (rising), 9−x (falling), 5
    // (flat): n=10, Σx=45, Σx²=285 → den = 825 for all three; rising
    // num = (10·Σx² − 45²)·1e6 = 825e6, falling the negation, flat 0
    val ev = (0 until 10).flatMap { x =>
      Seq(("view", x.toDouble), ("click", (9 - x).toDouble),
        ("error", 5.0)).map { case (t, v) =>
        (t, f"2024-01-${x + 1}%02d 12:00:00", v) }
    }.toDF("event_type", "ts0", "value")
      .select(col("event_type"), to_timestamp(col("ts0")).as("ts"),
        col("value"))
    val r = queries.Advanced.trendSlope(ev).collect()
      .map(x => x.getAs[String]("event_type") -> x).toMap
    assert(r("view").getAs[Long]("slope_num") == 825000000L)
    assert(r("view").getAs[Long]("slope_den") == 825L)
    assert(r("view").getAs[Boolean]("rising"))
    assert(r("click").getAs[Long]("slope_num") == -825000000L)
    assert(!r("click").getAs[Boolean]("rising"))
    assert(r("error").getAs[Long]("slope_num") == 0L)
    assert(!r("error").getAs[Boolean]("rising"))
  }

  test("q165 out-of-order probe: a planted regression is counted and measured exactly") {
    import spark.implicits._
    // arrival order 1..4 with event times 10,20,15,30 s: only the third
    // arrival runs behind its running max (by 5 s); 'click' is monotone
    val ev = Seq(
      ("view", 7L, 1L, 10L), ("view", 7L, 2L, 20L),
      ("view", 7L, 3L, 15L), ("view", 7L, 4L, 30L),
      ("click", 8L, 5L, 1L), ("click", 8L, 6L, 2L))
      .toDF("event_type", "user_id", "event_id", "secs")
      .select(col("event_type"), col("user_id"), col("event_id"),
        timestamp_seconds(col("secs")).as("ts"))
    val r = queries.Advanced.outOfOrderProbe(ev).collect()
      .map(x => x.getAs[String]("event_type") -> x).toMap
    assert(r("view").getAs[Long]("n_events") == 4)
    assert(r("view").getAs[Long]("n_late") == 1)
    assert(r("view").getAs[Long]("max_late_us") == 5000000L)
    assert(r("click").getAs[Long]("n_late") == 0)
    assert(r("click").getAs[Long]("max_late_us") == 0L)
  }

  test("q170 PageRank: a planted star ranks the hub first; leaves tie; runs are bit-identical") {
    import spark.implicits._
    // three 2-part baskets sharing part 100 → star graph 100—{1,2,3}
    val op = Seq((1L, 100L), (1L, 1L), (2L, 100L), (2L, 2L),
      (3L, 100L), (3L, 3L)).toDF("ok", "part")
    val r1 = queries.Advanced.pageRank(spark, op).collect()
    assert(r1.length == 4)
    assert(r1.head.getAs[Long]("partkey") == 100L, s"hub must rank first: ${r1.toSeq}")
    val leafScores = r1.tail.map(_.getAs[Long]("score_ppm")).toSet
    assert(leafScores.size == 1, s"symmetric leaves must tie: ${r1.toSeq}")
    assert(r1.head.getAs[Long]("score_ppm") > leafScores.head)
    // integer fixed-point: a second run reproduces every score exactly
    val r2 = queries.Advanced.pageRank(spark, op).collect()
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq,
      "PageRank scores must be bit-deterministic across runs")
  }

  test("q171 TWAP: burst over-weighting corrected; last observation carries no span") {
    import spark.implicits._
    // value 2 held for 10 s, value 8 held for 30 s → TWAP 6.5, where the
    // plain mean of observations would say 5 (and a burst of repeated
    // 2-readings would drag it further)
    val ev = Seq((1L, 0L, 2.0), (2L, 10L, 8.0), (3L, 40L, 99.0))
      .map { case (id, t, v) => ("view", id, t, v) }
      .toDF("event_type", "event_id", "secs", "value")
      .select(col("event_type"), col("event_id"),
        timestamp_seconds(col("secs")).as("ts"), col("value"))
    val r = queries.Advanced.twap(ev).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_events") == 2)
    assert(r.head.getAs[Long]("span_s") == 40)
    assert(r.head.getAs[Long]("twap_micro") == 6500000L, s"${r.head}")
  }

  test("q174 reconciliation: exact / within-1% / beyond / lineless buckets land exactly") {
    import spark.implicits._
    val orders = Seq((1L, 100.0), (2L, 100.0), (3L, 100.0), (4L, 100.0))
      .toDF("o_orderkey", "o_totalprice")
    val lines = Seq((1L, 100.0), (2L, 100.5), (3L, 200.0))
      .toDF("l_orderkey", "l_extendedprice")
    val r = queries.Advanced.reconcile(orders, lines).collect().head
    assert(r.getAs[Long]("n_orders") == 4)
    assert(r.getAs[Long]("n_lineless") == 1)
    assert(r.getAs[Long]("n_exact") == 1)
    assert(r.getAs[Long]("n_within_1pct") == 2, s"$r") // exact counts too
    assert(r.getAs[Long]("max_abs_delta_cents") == 10000L)
  }

  test("q175 association rules: exact confidence and cross-multiplied lift") {
    import spark.implicits._
    // baskets {A,B}, {A,B}, {C,D}: A→B has support 2, confidence 1.0,
    // and lift 2·3 > 2·2 → positive; C→D support 1, lift 1·3 > 1·1
    val op = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 3L),
      (3L, 4L)).toDF("ok", "part")
    val r = queries.Advanced.assocRules(op).collect()
      .map(x => (x.getAs[Long]("ante"), x.getAs[Long]("cons")) -> x).toMap
    assert(r((1L, 2L)).getAs[Long]("n_ab") == 2)
    assert(r((1L, 2L)).getAs[Long]("confidence_ppm") == 1000000L)
    assert(r((1L, 2L)).getAs[Boolean]("lift_positive"))
    assert(r((3L, 4L)).getAs[Boolean]("lift_positive"))
    assert(r.size == 4)
  }

  test("q176 Markov: planted stream yields exact transition counts and row-stochastic ppm") {
    import spark.implicits._
    // user 1: view→click→view→purchase — view fans out 50/50
    val ev = Seq((1L, "view", 1L), (1L, "click", 2L), (1L, "view", 3L),
      (1L, "purchase", 4L))
      .toDF("user_id", "event_type", "secs")
      .withColumn("ts", timestamp_seconds(col("secs")))
      .withColumn("event_id", col("secs"))
    val r = queries.Advanced.markovTransitions(ev).collect()
      .map(x => (x.getAs[String]("from_type"), x.getAs[String]("to_type")) -> x)
      .toMap
    assert(r.size == 3)
    assert(r(("view", "click")).getAs[Long]("n") == 1)
    assert(r(("view", "click")).getAs[Long]("n_from") == 2)
    assert(r(("view", "click")).getAs[Long]("prob_ppm") == 500000L)
    assert(r(("view", "purchase")).getAs[Long]("prob_ppm") == 500000L)
    assert(r(("click", "view")).getAs[Long]("prob_ppm") == 1000000L)
  }

  test("q172 Pareto: dominated pairs drop, frontier is monotone") {
    import spark.implicits._
    val items = Seq((100L, 5L), (200L, 10L), (150L, 3L), (100L, 4L),
      (250L, 10L)).toDF("price_cents", "quantity")
    val f = queries.Advanced.paretoFrontier(items).collect()
      .map(r => (r.getAs[Long]("price_cents"), r.getAs[Long]("quantity")))
    assert(f.toSeq == Seq((100L, 5L), (200L, 10L)),
      s"wrong frontier: ${f.toSeq}")
  }

  test("q185 dow seasonality: a planted 2x-Sunday rhythm indexes above/below parity exactly") {
    import spark.implicits._
    // 2024-01-07 is a Sunday; two weeks of daily singles, Sundays at 2.0
    val days = (0 until 14).map(i => java.time.LocalDate.of(2024, 1, 1).plusDays(i))
    val ev = days.map { d =>
      val isSun = d.getDayOfWeek == java.time.DayOfWeek.SUNDAY
      ("m", java.sql.Timestamp.valueOf(d.atStartOfDay),
        if (isSun) 2.0 else 1.0)
    }.toDF("event_type", "ts", "value")
    val r = queries.Advanced.dowSeasonality(ev).collect()
      .map(x => x.getAs[Int]("dow") -> x.getAs[Long]("idx_ppm")).toMap
    // overall mean = (2*2 + 12*1)/14 = 16/14; sunday idx = 2/(16/14)
    assert(r(0) == BigInt(2) * 14 * 1000000 / 16, s"sunday idx ${r(0)}")
    assert(r(1) == BigInt(1) * 14 * 1000000 / 16, s"weekday idx ${r(1)}")
    assert(r.size == 7 && r(0) > 1000000L && r(1) < 1000000L)
  }

  test("q186 CUSUM: a planted level shift peaks at the last pre-shift day") {
    import spark.implicits._
    val ev = (1 to 10).map { k =>
      ("m", java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1, k).atStartOfDay),
        if (k <= 5) 10.0 else 20.0)
    }.toDF("event_type", "ts", "value")
    val r = queries.Advanced.cusumChangepoint(ev).collect().head
    assert(r.getAs[Long]("n_days") == 10L)
    assert(r.getAs[java.sql.Date]("peak_day").toString == "2024-01-05",
      s"peak at ${r.getAs[java.sql.Date]("peak_day")}")
    // |C_5| = |10·(5·10e6) − 5·150e6| = 250e6, the mean-free peak
    assert(r.getAs[Long]("peak_cusum") == 250000000L)
    assert(r.getAs[Long]("peak_pos_ppm") == 500000L)
  }

  test("q187 EWMA: constant series returns the constant; a final spike reads above parity; guard fires past the day bound") {
    import spark.implicits._
    def series(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      ("m", java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i).atStartOfDay), v)
    }.toDF("event_type", "ts", "value")
    // constant: s_n = c exactly at any length (weights sum to 2^n)
    val flat = queries.Advanced.ewmaLevel(series(Seq.fill(10)(3.0)))
      .collect().head
    assert(flat.getAs[Long]("ewma_micro") == 3000000L)
    assert(flat.getAs[Long]("last_vs_ewma_ppm") == 1000000L)
    // spike on the last day: s_n = (baseline + spike)/2 → ratio ~2x
    val spiked = queries.Advanced.ewmaLevel(
      series(Seq.fill(9)(3.0) :+ 9.0)).collect().head
    // s_10 = 9/2 + 3·(1/4+…) = 4.5 + 3·(1/2 − 2^-9·…) exact check:
    // num = 2·3e6 + Σ_{i=2..9} 3e6·2^(i−1) + 9e6·2^9; den = 2^10
    val num = BigInt(2) * 3000000 +
      (2 to 9).map(i => BigInt(3000000) * (BigInt(1) << (i - 1))).sum +
      BigInt(9000000) * (BigInt(1) << 9)
    assert(spiked.getAs[Long]("ewma_micro") == (num / BigInt(1024)).toLong)
    assert(spiked.getAs[Long]("last_vs_ewma_ppm") >= 1500000L)
    // loud guard past the state bound
    val e = intercept[Exception](
      queries.Advanced.ewmaLevel(series(Seq.fill(8)(3.0)), maxDays = 5)
        .collect())
    assert(e.getMessage.contains("daily points"), e.getMessage)
    // the guard rides EVERY served column: projecting only ewma_micro
    // must still trip it (column pruning would drop an n_days-only guard)
    val e2 = intercept[Exception](
      queries.Advanced.ewmaLevel(series(Seq.fill(8)(3.0)), maxDays = 5)
        .select("ewma_micro").collect())
    assert(e2.getMessage.contains("daily points"), e2.getMessage)
  }

  test("q187 EWMA recurrence ≡ the 2^(n−1) closed form for n ≤ 60, and stays exact at 365+ days") {
    import spark.implicits._
    def series(vals: Seq[Long]) = vals.zipWithIndex.map { case (v, i) =>
      ("m", java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2023, 1, 1).plusDays(i).atStartOfDay),
        v.toDouble)
    }.toDF("event_type", "ts", "value")
    // deterministic pseudo-random series (no Random: reproducible seed)
    def planted(n: Int): Seq[Long] =
      (1 to n).map(k => ((k * 2654435761L) % 997L) + 1L)
    def closedForm(micro: Seq[BigInt]): BigInt = {
      // s_n = (2·y_1 + Σ_{i≥2} y_i·2^{i−1}) div 2^n — the round-9 form
      val num = BigInt(2) * micro.head +
        micro.zipWithIndex.drop(1)
          .map { case (y, i) => y * (BigInt(1) << i) }.sum
      num / (BigInt(1) << micro.size)
    }
    def recurrence(micro: Seq[Long]): Long =
      micro.reduceLeft((acc, y) => (acc + y) / 2)
    for (n <- Seq(1, 2, 7, 31, 60)) {
      val vals = planted(n)
      val micro = vals.map(v => BigInt(v) * 1000000)
      val r = queries.Advanced.ewmaLevel(series(vals)).collect().head
      assert(r.getAs[Long]("ewma_micro") == closedForm(micro).toLong,
        s"n=$n: recurrence ${r.getAs[Long]("ewma_micro")} != closed " +
          s"form ${closedForm(micro)}")
      assert(r.getAs[Long]("ewma_micro") ==
        recurrence(micro.map(_.toLong)), s"n=$n scala-fold mismatch")
    }
    // past the old 60-day cliff: 400 daily points, still exact — the
    // closed form's 2^399 weights would saturate DECIMAL(38,0); the
    // recurrence matches a driver-side BigInt-free integer fold
    val n = 400
    val vals = planted(n)
    val r = queries.Advanced.ewmaLevel(series(vals)).collect().head
    assert(r.getAs[Long]("n_days") == n.toLong)
    val expected = recurrence(vals.map(_ * 1000000L))
    assert(r.getAs[Long]("ewma_micro") == expected,
      s"400-day series: ${r.getAs[Long]("ewma_micro")} != $expected")
    assert(r.getAs[Long]("last_micro") == vals.last * 1000000L)
    assert(r.getAs[Long]("last_vs_ewma_ppm") ==
      (BigInt(vals.last) * 1000000L * 1000000L / expected).toLong)
  }

  test("q172 Pareto two-phase: multi-stripe differential vs brute force, boundaries included") {
    import spark.implicits._
    // a tiny stripe width forces CROSS-stripe domination, stripe-boundary
    // prices (p = k·width exactly), a globally-cheapest null path, and
    // same-price ties — every branch of the two-phase rewrite
    val rnd = new scala.util.Random(172)
    val raw = (1 to 400).map(_ =>
      (rnd.nextInt(100).toLong, rnd.nextInt(30).toLong)) ++
      Seq((0L, 7L), (10L, 7L), (20L, 7L), (20L, 29L)) // boundary pins
    val df = raw.toDF("price_cents", "quantity")
    val got = queries.Advanced.paretoFrontier(df, bucketWidth = 10L)
      .collect().map(r =>
        (r.getAs[Long]("price_cents"), r.getAs[Long]("quantity"))).toSeq
    val distinct = raw.distinct
    val want = distinct.filter { case (p, q) =>
      !distinct.exists { case (p2, q2) =>
        p2 <= p && q2 >= q && (p2 < p || q2 > q) }
    }.sortBy(_._1)
    assert(got == want, s"two-phase frontier diverged: got $got want $want")
  }
}
