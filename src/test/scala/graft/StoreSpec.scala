package graft

import graft.pipeline.{GraftConfig, Ingest, Pipeline, SchemaCheck, Store}
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StoreSpec extends SparkSpec {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private val schema = StructType(Seq(
    StructField("order_id", StringType), StructField("price", DoubleType),
    StructField("ingested_at", TimestampType)))

  private def ordersDf(rows: (String, Double, String)*) = spark.createDataFrame(
    java.util.Arrays.asList(rows.map { case (o, p, t) =>
      Row(o, p, java.sql.Timestamp.valueOf(t)) }: _*), schema)

  test("upsert: unique keys, latest-wins replace (storage.py:114-228)") {
    val table = tmp("orders_tbl") + "/orders"
    val n1 = Store.upsertOrders(spark, ordersDf(
      ("A-1", 10.0, "2024-01-01 00:00:00"),
      ("A-2", 20.0, "2024-01-01 00:00:00")), table)
    assert(n1 == 2)
    // newer row replaces A-1; stale row for A-2 loses; A-3 inserts
    val n2 = Store.upsertOrders(spark, ordersDf(
      ("A-1", 11.0, "2024-02-01 00:00:00"),
      ("A-2", 19.0, "2023-12-01 00:00:00"),
      ("A-3", 30.0, "2024-01-05 00:00:00")), table)
    assert(n2 == 3)
    val rows = spark.read.parquet(table).orderBy("order_id").collect()
    assert(rows.map(_.getAs[Double]("price")).toSeq == Seq(11.0, 20.0, 30.0))
  }

  test("upsert: same-timestamp rerun is idempotent, incoming wins ties") {
    val table = tmp("orders_tbl2") + "/orders"
    val df = ordersDf(("B-1", 5.0, "2024-01-01 00:00:00"))
    Store.upsertOrders(spark, df, table)
    val n = Store.upsertOrders(spark, ordersDf(("B-1", 6.0, "2024-01-01 00:00:00")), table)
    assert(n == 1)
    assert(spark.read.parquet(table).collect().head.getAs[Double]("price") == 6.0)
  }

  test("upsert: interrupted swap (table at __backup only) is recovered") {
    val table = tmp("orders_tbl3") + "/orders"
    Store.upsertOrders(spark, ordersDf(("D-1", 1.0, "2024-01-01 00:00:00")), table)
    // simulate a crash between the two renames: old moved aside, new lost
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(table),
      new org.apache.hadoop.fs.Path(table + "__backup")))
    // the next upsert must see the backed-up version, not start empty
    val n = Store.upsertOrders(spark,
      ordersDf(("D-2", 2.0, "2024-01-02 00:00:00")), table)
    assert(n == 2, "backup row was lost across an interrupted swap")
    assert(spark.read.parquet(table).orderBy("order_id").collect()
      .map(_.getAs[String]("order_id")).toSeq == Seq("D-1", "D-2"))
  }

  test("incremental upsert: latest-wins semantics match the full-rewrite path") {
    val table = tmp("orders_inc1") + "/orders"
    Store.upsertOrdersIncremental(spark, ordersDf(
      ("A-1", 10.0, "2024-01-01 00:00:00"),
      ("A-2", 20.0, "2024-01-01 00:00:00"),
      ("A-1", 9.0, "2023-12-01 00:00:00")), table, numBuckets = 8) // in-batch dup collapses
    val n = Store.upsertOrdersIncremental(spark, ordersDf(
      ("A-1", 11.0, "2024-02-01 00:00:00"),  // newer → replaces
      ("A-2", 19.0, "2023-12-01 00:00:00"),  // stale → loses
      ("A-3", 30.0, "2024-01-05 00:00:00")), table, numBuckets = 8)
    assert(n == 3)
    val rows = Store.readOrdersIncremental(spark, table).orderBy("order_id").collect()
    assert(rows.map(_.getAs[String]("order_id")).toSeq == Seq("A-1", "A-2", "A-3"))
    assert(rows.map(_.getAs[Double]("price")).toSeq == Seq(11.0, 20.0, 30.0))
    // tie: incoming wins (same ts, higher __gen)
    Store.upsertOrdersIncremental(spark,
      ordersDf(("A-3", 31.0, "2024-01-05 00:00:00")), table, numBuckets = 8)
    assert(Store.readOrdersIncremental(spark, table)
      .filter(col("order_id") === "A-3").collect().head.getAs[Double]("price") == 31.0)
  }

  test("CDC applyDelta: classified diff converges the store to the next snapshot") {
    val table = tmp("orders_cdc") + "/orders"
    val seed = (1 to 60).map(i => (f"C-$i%03d", i * 1.0, "2024-01-01 00:00:00"))
    Store.upsertOrdersIncremental(spark, ordersDf(seed: _*), table, numBuckets = 8)
    // the delta a snapshot diff classifies: delete %7, update %5 (+100),
    // insert three fresh keys
    val delta = ordersDf(
      ((1 to 60).filter(_ % 5 == 0).filterNot(_ % 7 == 0)
        .map(i => (f"C-$i%03d", i + 100.0, "2024-02-01 00:00:00")) ++
        Seq(("C-901", 901.0, "2024-02-01 00:00:00"),
          ("C-902", 902.0, "2024-02-01 00:00:00"),
          ("C-903", 903.0, "2024-02-01 00:00:00"))): _*)
      .withColumn("change_type",
        when(col("order_id") >= "C-901", "insert").otherwise("update"))
      .unionByName(
        ordersDf((1 to 60).filter(_ % 7 == 0)
          .map(i => (f"C-$i%03d", 0.0, "2024-02-01 00:00:00")): _*)
          .withColumn("change_type", lit("delete")))
    Store.applyDelta(spark, delta, table)
    val expected = (1 to 60).filterNot(_ % 7 == 0)
      .map(i => f"C-$i%03d" -> (if (i % 5 == 0) i + 100.0 else i * 1.0))
      .toMap ++ Map("C-901" -> 901.0, "C-902" -> 902.0, "C-903" -> 903.0)
    val got = Store.readOrdersIncremental(spark, table).collect()
      .map(r => r.getAs[String]("order_id") -> r.getAs[Double]("price")).toMap
    assert(got == expected, s"store diverged: ${(got.toSet diff expected.toSet).take(5)}")
    // a delta that empties every key it touches must not leave ghost
    // rows: wipe all keys but one — most buckets end fully deleted and
    // their partition dirs must disappear, not just shrink
    val keep = "C-901"
    val wipe = ordersDf(expected.keys.filterNot(_ == keep).toSeq.sorted
      .map(k => (k, 0.0, "2024-03-01 00:00:00")): _*)
      .withColumn("change_type", lit("delete"))
    Store.applyDelta(spark, wipe, table)
    val left = Store.readOrdersIncremental(spark, table).collect()
    assert(left.map(_.getAs[String]("order_id")).toSeq == Seq(keep),
      s"fully-deleted buckets left rows behind: ${left.length} rows")
    // emptying the LAST row of the table is refused (no schema-bearing
    // files would remain), and the table stays intact
    val err = intercept[RuntimeException] {
      Store.applyDelta(spark, ordersDf((keep, 0.0, "2024-04-01 00:00:00"))
        .withColumn("change_type", lit("delete")), table)
    }
    assert(err.getMessage.contains("drop the table directory"))
    assert(Store.readOrdersIncremental(spark, table).count() == 1)
    // malformed classifications fail fast instead of half-applying
    val bad = intercept[RuntimeException] {
      Store.applyDelta(spark, ordersDf((keep, 1.0, "2024-05-01 00:00:00"))
        .withColumn("change_type", lit("Upsert")), table)
    }
    assert(bad.getMessage.contains("unrecognized"))
  }

  test("bucketed writes return the rows a read-back finds: first write, merge, bucket-emptying delta, compaction") {
    val table = tmp("orders_counts") + "/orders"
    def bucketOf(df: org.apache.spark.sql.DataFrame) =
      df.select(pmod(hash(col("order_id")), lit(8))).distinct()
        .collect().map(_.getInt(0)).toSeq
    def readBack(buckets: Seq[Int]) = spark.read.parquet(table)
      .filter(col("__bucket").isin(buckets: _*)).count()
    // the first write carries a duplicate key: the count is post-merge
    val first = ordersDf(((1 to 40).map(i => (f"N-$i%03d", i * 1.0, "2024-01-01 00:00:00")) :+
      ("N-001", 99.0, "2024-01-02 00:00:00")): _*)
    val n1 = Store.upsertOrdersIncremental(spark, first, table, numBuckets = 8)
    assert(n1 == 40 && n1 == spark.read.parquet(table).count())
    val upd = ordersDf(("N-002", 5.0, "2024-02-01 00:00:00"),
      ("N-900", 900.0, "2024-02-01 00:00:00"))
    val n2 = Store.upsertOrdersIncremental(spark, upd, table)
    assert(n2 == readBack(bucketOf(upd)), "merge count diverges from a read-back")
    // delete every key of one bucket, update a key of another
    val all = Store.readOrdersIncremental(spark, table)
      .withColumn("b", pmod(hash(col("order_id")), lit(8)))
    val emptied = all.filter(col("b") === bucketOf(upd).head)
      .select("order_id").collect().map(_.getString(0)).toSeq
    val other = all.filter(col("b") =!= bucketOf(upd).head)
      .select("order_id").head().getString(0)
    val delta = ordersDf(emptied.map(k => (k, 0.0, "2024-03-01 00:00:00")): _*)
      .withColumn("change_type", lit("delete"))
      .unionByName(ordersDf((other, 7.0, "2024-03-01 00:00:00"))
        .withColumn("change_type", lit("update")))
    val n3 = Store.applyDelta(spark, delta, table)
    val touched = bucketOf(delta)
    assert(touched.size == 2 && n3 == readBack(touched),
      "delta count diverges from a read-back")
    assert(readBack(Seq(bucketOf(upd).head)) == 0, "the emptied bucket kept rows")
    val n4 = Store.compactBuckets(spark, table, targetFileBytes = 512)
    assert(n4 == Store.readOrdersIncremental(spark, table).count(),
      "compaction count diverges from a read-back")
    assert(n4 == 41 - emptied.size)
  }

  test("incremental upsert: a 1-row batch rewrites only its own bucket partition") {
    val table = tmp("orders_inc2") + "/orders"
    // seed enough keys that (with 8 buckets) several distinct partitions exist
    val seed = (1 to 64).map(i => (f"K-$i%03d", i.toDouble, "2024-01-01 00:00:00"))
    Store.upsertOrdersIncremental(spark, ordersDf(seed: _*), table, numBuckets = 8)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def files(): Map[String, Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(table), true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.endsWith(".parquet"))
          b += s.getPath.toString -> s.getModificationTime
      }
      b.result()
    }
    val before = files()
    val bucketDirs = before.keys.map(_.split("/").init.last).toSet
    assert(bucketDirs.size > 4, s"seed spread over too few buckets: $bucketDirs")
    Store.upsertOrdersIncremental(spark,
      ordersDf(("K-001", 99.0, "2024-02-01 00:00:00")), table, numBuckets = 8)
    val after = files()
    // exactly one bucket directory's files changed; every other file
    // survives bit-identical (same path, same modification time)
    val changedDirs = (
      (before.keySet -- after.keySet) ++ (after.keySet -- before.keySet) ++
        before.keySet.intersect(after.keySet).filter(k => before(k) != after(k))
      ).map(_.split("/").init.last)
    assert(changedDirs.size == 1, s"expected 1 rewritten bucket, got $changedDirs")
    // the rewrite lands as ONE compact file, not one per shuffle partition
    val touchedDir = changedDirs.head
    val filesInTouched = after.keys.count(_.split("/").init.last == touchedDir)
    assert(filesInTouched == 1,
      s"bucket rewrite shed $filesInTouched files; expected 1")
    // and the merge is still correct
    val got = Store.readOrdersIncremental(spark, table)
    assert(got.count() == 64)
    assert(got.filter(col("order_id") === "K-001").collect().head
      .getAs[Double]("price") == 99.0)
  }

  test("incremental upsert: layout is self-describing and guarded both ways") {
    // bucket count is fixed at creation: a later call with a different
    // numBuckets must use the STORED modulus, or keys would be looked up
    // in the wrong partitions and silently duplicate
    val table = tmp("orders_inc3") + "/orders"
    Store.upsertOrdersIncremental(spark,
      ordersDf(("C-1", 1.0, "2024-01-01 00:00:00")), table, numBuckets = 8)
    Store.upsertOrdersIncremental(spark,
      ordersDf(("C-1", 2.0, "2024-02-01 00:00:00")), table, numBuckets = 64)
    val rows = Store.readOrdersIncremental(spark, table).collect()
    assert(rows.length == 1, "mismatched numBuckets duplicated the key")
    assert(rows.head.getAs[Double]("price") == 2.0)
    // full-rewrite upsert must refuse the bucketed layout...
    val e1 = intercept[RuntimeException] {
      Store.upsertOrders(spark, ordersDf(("C-2", 3.0, "2024-01-01 00:00:00")), table)
    }
    assert(e1.getMessage.contains("incremental"))
    // ...and the incremental upsert must refuse a plain table
    val plain = tmp("orders_plain") + "/orders"
    Store.upsertOrders(spark, ordersDf(("P-1", 1.0, "2024-01-01 00:00:00")), plain)
    val e2 = intercept[RuntimeException] {
      Store.upsertOrdersIncremental(spark,
        ordersDf(("P-2", 2.0, "2024-01-01 00:00:00")), plain)
    }
    assert(e2.getMessage.contains("not in incremental layout"))
    // retrieval paths hide the layout column
    assert(!Store.getOrders(spark, table, 10).columns.contains("__bucket"))
  }

  test("incremental read repairs a crashed mid-clear (_pending_clear ghosts)") {
    // a crash between the publish and the emptied-bucket deletes leaves
    // the marker + ghost rows; the READ path must finish the clear rather
    // than serve rows a committed delta already deleted
    val table = tmp("orders_inc_pc") + "/orders"
    Store.upsertOrdersIncremental(spark, ordersDf(
      ("G-1", 1.0, "2024-01-01 00:00:00"),
      ("G-2", 2.0, "2024-01-01 00:00:00"),
      ("G-3", 3.0, "2024-01-01 00:00:00")), table, numBuckets = 8)
    val before = Store.readOrdersIncremental(spark, table)
    val ghostBucket = spark.read.parquet(table)
      .filter(col("order_id") === "G-2")
      .select("__bucket").collect().head.getInt(0)
    val ghostKeys = spark.read.parquet(table)
      .filter(col("__bucket") === ghostBucket)
      .collect().map(_.getAs[String]("order_id")).toSet
    assert(before.count() == 3)
    // simulate the crash: marker present, bucket dir still on disk
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, "_pending_clear"),
      ghostBucket.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val after = Store.readOrdersIncremental(spark, table).collect()
    assert(after.map(_.getAs[String]("order_id")).toSet ==
      Set("G-1", "G-2", "G-3") -- ghostKeys,
      "reader served ghost rows from a bucket a committed clear listed")
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(table, "_pending_clear")),
      "repair must consume the marker (idempotence)")
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(table, s"__bucket=$ghostBucket")),
      "repair must delete the listed bucket directory")
  }

  test("compactBuckets: right-sizes the modulus, data hash-identical, merges keep working") {
    val table = tmp("orders_compact") + "/orders"
    // heavy small-batch ingest into an oversized modulus: 64 one-file
    // bucket dirs holding a few KB each
    Store.upsertOrdersIncremental(spark, ordersDf(
      (0 until 40).map(i => (s"K-$i", i.toDouble, "2024-01-01 00:00:00")): _*),
      table, numBuckets = 64)
    Store.upsertOrdersIncremental(spark, ordersDf(
      (40 until 80).map(i => (s"K-$i", i.toDouble, "2024-01-02 00:00:00")): _*),
      table, numBuckets = 64)
    def bucketDirs(): Int = java.nio.file.Files.list(java.nio.file.Paths.get(table))
      .filter(_.getFileName.toString.startsWith("__bucket=")).count().toInt
    def dataFiles(): Int = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(table))
      try s.filter(_.toString.endsWith(".parquet")).count().toInt finally s.close()
    }
    val beforeDirs = bucketDirs()
    val beforeFiles = dataFiles()
    val snapshot = Store.readOrdersIncremental(spark, table)
      .orderBy("order_id").collect().map(_.toSeq).toSeq
    // 1 GiB target vs a few KB of data → modulus collapses to 1
    val n = Store.compactBuckets(spark, table, targetFileBytes = 1L << 30)
    assert(n == 80)
    assert(bucketDirs() < beforeDirs && dataFiles() < beforeFiles,
      s"compaction must shrink the layout: dirs $beforeDirs->${bucketDirs()}, " +
        s"files $beforeFiles->${dataFiles()}")
    assert(Store.readOrdersIncremental(spark, table)
      .orderBy("order_id").collect().map(_.toSeq).toSeq == snapshot,
      "compaction changed the data")
    // the next merge must pick up the NEW modulus from the marker (a
    // wrong-modulus merge would duplicate the key instead of replacing)
    Store.upsertOrdersIncremental(spark,
      ordersDf(("K-7", 700.0, "2024-03-01 00:00:00")), table, numBuckets = 64)
    val k7 = Store.readOrdersIncremental(spark, table)
      .filter(col("order_id") === "K-7").collect()
    assert(k7.length == 1 && k7.head.getAs[Double]("price") == 700.0)
    // the dial turns BOTH ways: a tiny target file size re-expands the
    // modulus (the grew-100x case), data still value-identical
    Store.compactBuckets(spark, table, targetFileBytes = 512)
    assert(bucketDirs() > 1, "tiny target must grow the modulus back")
    val expected = snapshot.map {
      case s if s.head == "K-7" =>
        Seq("K-7", 700.0, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
      case s => s
    }
    assert(Store.readOrdersIncremental(spark, table)
      .orderBy("order_id").collect().map(_.toSeq).toSeq == expected,
      "re-expansion changed the data")
  }

  test("incremental read recovers a compact swap crashed between its renames") {
    val table = tmp("orders_swapcrash") + "/orders"
    Store.upsertOrdersIncremental(spark, ordersDf(
      ("S-1", 1.0, "2024-01-01 00:00:00"),
      ("S-2", 2.0, "2024-01-01 00:00:00")), table, numBuckets = 8)
    val snapshot = Store.readOrdersIncremental(spark, table)
      .orderBy("order_id").collect().map(_.toSeq).toSeq
    // simulate compactBuckets dying after "move table aside" and before
    // "publish staging": the table exists only at __backup
    java.nio.file.Files.move(
      java.nio.file.Paths.get(table), java.nio.file.Paths.get(table + "__backup"))
    val recovered = Store.readOrdersIncremental(spark, table)
      .orderBy("order_id").collect().map(_.toSeq).toSeq
    assert(recovered == snapshot, "reader must restore the last committed table")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(table))
      && !java.nio.file.Files.exists(java.nio.file.Paths.get(table + "__backup")))
    // and the recovered table keeps merging normally
    Store.upsertOrdersIncremental(spark,
      ordersDf(("S-3", 3.0, "2024-02-01 00:00:00")), table)
    assert(Store.readOrdersIncremental(spark, table).count() == 3)
    // a WRITER meeting the same crash restores the table before merging,
    // instead of seeding a new table from its batch alone
    java.nio.file.Files.move(
      java.nio.file.Paths.get(table), java.nio.file.Paths.get(table + "__backup"))
    Store.upsertOrdersIncremental(spark,
      ordersDf(("S-4", 4.0, "2024-03-01 00:00:00")), table)
    assert(Store.readOrdersIncremental(spark, table).count() == 4)
  }

  test("exports + topk retrieval + stats (S8, S11-S14)") {
    val base = tmp("exports")
    val df = ordersDf(
      ("C-1", 1.0, "2024-01-01 00:00:00"),
      ("C-2", 2.0, "2024-01-02 00:00:00"),
      ("C-3", 3.0, "2024-01-03 00:00:00"))
    Store.exportCsv(df, s"$base/csv")
    Store.exportJson(df, s"$base/json")
    Store.exportParquet(df, s"$base/pq")
    assert(spark.read.option("header", "true").csv(s"$base/csv").count() == 3)
    assert(spark.read.json(s"$base/json").count() == 3)
    val top = Store.getOrders(spark, s"$base/pq", 2)
    assert(top.collect().map(_.getString(0)).toSeq == Seq("C-3", "C-2"))
    val stats = Store.tableStats(spark, s"$base/pq").collect().head
    assert(stats.getAs[Long]("row_count") == 3)
    assert(stats.getAs[Long]("distinct_orders") == 3)
  }

  test("exportJsonRecords: one valid JSON array artifact, ordered, atomic (S12 records form)") {
    val base = tmp("recjson")
    val df = ordersDf(
      ("C-1", 1.0, "2024-01-01 00:00:00"),
      ("C-2", 2.0, "2024-01-02 00:00:00"),
      ("C-3", 3.0, "2024-01-03 00:00:00"))
      .orderBy("order_id").coalesce(1)
    val out = s"$base/orders.json"
    Store.exportJsonRecords(df, out)
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(text.startsWith("[") && text.trim.endsWith("]"),
      "artifact must be ONE JSON array document")
    // a plain non-Spark JSON parser accepts it, rows and order intact
    val back = spark.read.option("multiLine", "true").json(out)
    assert(back.count() == 3)
    assert(back.orderBy("order_id").collect().map(_.getAs[String]("order_id")).toSeq
      == Seq("C-1", "C-2", "C-3"))
    assert(text.indexOf("C-1") < text.indexOf("C-2")
      && text.indexOf("C-2") < text.indexOf("C-3"), "row order not preserved")
    // no leftovers; re-export atomically replaces
    def leftovers = Seq(".parts", "__staging", "__backup")
      .filter(sfx => java.nio.file.Files.exists(java.nio.file.Paths.get(out + sfx)))
    assert(leftovers.isEmpty, s"left behind: $leftovers")
    Store.exportJsonRecords(df.limit(2), out)
    assert(spark.read.option("multiLine", "true").json(out).count() == 2)
    assert(leftovers.isEmpty, s"re-export left behind: $leftovers")
    // an EMPTY frame publishes an empty-array document, not garbage
    Store.exportJsonRecords(df.filter("order_id = 'NOPE'"), out)
    val empty = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(spark.read.option("multiLine", "true").json(out).isEmpty
      || empty.trim == "[\n]" || empty.trim == "[]")
    // MULTI-part input: range-partitioned + sorted-within means part-file
    // name order IS global order, and the concatenation must keep it
    val many = spark.range(0, 100)
      .selectExpr("format_string('K-%03d', id) AS order_id",
        "CAST(id AS DOUBLE) AS price")
      .repartitionByRange(4, col("order_id"))
      .sortWithinPartitions("order_id")
    Store.exportJsonRecords(many, out)
    val ids = spark.read.option("multiLine", "true").json(out)
      .collect().map(_.getAs[String]("order_id")).toSeq
    assert(ids.size == 100)
    val textMany = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    val positions = (0 until 100).map(i => textMany.indexOf(f"K-$i%03d"))
    assert(positions.forall(_ >= 0) && positions == positions.sorted,
      "multi-part artifact lost global order")
  }

  test("metric sink + avgMetric (S10, A15)") {
    val path = tmp("metrics") + "/metrics"
    Store.appendQualityMetrics(spark, path, "RUN-1",
      Seq("data_quality_score" -> 90.0), "quality", "orders", "2024-01-01")
    Store.appendQualityMetrics(spark, path, "RUN-2",
      Seq("data_quality_score" -> 80.0), "quality", "orders", "2024-01-02")
    assert(Store.avgMetric(spark, path, "data_quality_score").contains(85.0))
    assert(Store.avgMetric(spark, path, "no_such_metric").isEmpty)
  }

  test("schema check: family validation and missing-required report") {
    val good = SchemaCheck.validate(
      graft.pipeline.OrdersDomain.fromTpch(spark, sf))
    assert(good.valid, good.toString)
    val bad = SchemaCheck.validate(ordersDf(("A", 1.0, "2024-01-01 00:00:00")))
    assert(!bad.valid)
    assert(bad.missingRequired.contains("customer_name"))
  }

  test("pipeline E2E: sources → stages → stored table + telemetry (pipeline.py:68-208)") {
    val out = tmp("pipe_out")
    val posts = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 1L, "iPhone post"), Row(2L, 2L, "plain post")),
      StructType(Seq(StructField("id", LongType), StructField("userId", LongType),
        StructField("title", StringType))))
    val report = Pipeline.run(spark,
      Seq(Ingest.postsToOrders(posts)), out,
      GraftConfig(asOf = "2024-06-01",
        exportFormats = Seq("json-records")),
      runId = "RUN-TEST-1")
    assert(report.success, report.toString)
    assert(report.recordsStored == 2)
    // the reference-shaped records-array artifact rode along (S12)
    assert(spark.read.option("multiLine", "true")
      .json(s"$out/exports/orders_records.json").count() == 2)
    assert(report.stages.map(_.stage) ==
      Seq("ingestion", "validation", "cleaning", "enrichment", "standardization", "storage"))
    assert(report.qualityScore.exists(_ > 0))
    val stored = spark.read.parquet(s"$out/orders")
    assert(stored.count() == 2)
    assert(stored.columns.contains("customer_segment"))
    val runs = spark.read.parquet(s"$out/pipeline_runs").collect()
    assert(runs.head.getAs[String]("status") == "completed")
    assert(spark.read.parquet(s"$out/metrics")
      .filter(col("metric_name") === "data_quality_score").count() == 1)
    // rerun upserts, doesn't duplicate
    val report2 = Pipeline.run(spark,
      Seq(Ingest.postsToOrders(posts)), out, GraftConfig(asOf = "2024-06-01"),
      runId = "RUN-TEST-2")
    assert(report2.recordsStored == 2)
  }

  test("pipeline: stage toggles honored (run_pipeline.py:56-66)") {
    val out = tmp("pipe_min")
    val posts = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 1L, "iPhone post")),
      StructType(Seq(StructField("id", LongType), StructField("userId", LongType),
        StructField("title", StringType))))
    val report = Pipeline.run(spark, Seq(Ingest.postsToOrders(posts)), out,
      GraftConfig(enableValidation = false, enableEnrichment = false,
        enableStandardization = false))
    assert(report.success)
    assert(report.stages.map(_.stage) == Seq("ingestion", "cleaning", "storage"))
    assert(!spark.read.parquet(s"$out/orders").columns.contains("customer_segment"))
  }

  test("upsert: duplicate keys in the FIRST write collapse to latest-wins") {
    val table = tmp("orders_first") + "/orders"
    val n = Store.upsertOrders(spark, ordersDf(
      ("A-1", 10.0, "2024-01-01 00:00:00"),
      ("A-1", 11.0, "2024-02-01 00:00:00"),
      ("A-2", 20.0, "2024-01-01 00:00:00")), table)
    assert(n == 2, "unique-key invariant must hold from the first version")
    val a1 = spark.read.parquet(table).filter(col("order_id") === "A-1").collect()
    assert(a1.length == 1 && a1.head.getAs[Double]("price") == 11.0,
      "latest version must win within the first batch")
  }

  private val wideSchema = StructType(Seq(
    StructField("order_id", StringType), StructField("price", DoubleType),
    StructField("quantity", IntegerType), StructField("note", StringType),
    StructField("ingested_at", TimestampType)))

  private def wideDf(rows: Row*) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), wideSchema)

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("keep-latest: both upsert paths match the max-struct reference") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-0$s 00:00:00")
    val first = wideDf(
      Row("A", 1.0, 1, "x", ts("2")), Row("A", 2.0, 2, "y", ts("3")), // later arrival wins
      Row("B", 3.0, null, null, null), Row("B", 4.0, 1, "z", ts("2")), // null arrival loses
      Row("C", 5.0, null, "p", ts("2")), Row("C", 5.0, 3, "p", ts("2")), // null quantity loses
      Row(null, 6.0, 1, "n", ts("2")), Row(null, 7.0, 1, "n", ts("1")), // null key: one group
      Row("D", 8.0, 1, null, null))
    val second = wideDf(
      Row("A", 9.0, 1, "x", ts("3")), // same arrival as stored: incoming wins via __gen
      Row("B", 1.0, 1, "w", null), // null arrival loses to the stored one
      Row("D", 2.0, 2, "d", null), // both arrivals null: incoming wins via __gen
      Row(null, 0.5, null, "n2", ts("2")), // null key, tied arrival: incoming wins
      Row("E", 1.0, null, null, ts("1")))
    val expect1 = References.keepLatestAgg(first)
    val expect2 = References.keepLatestAgg(expect1.withColumn("__gen", lit(0))
      .unionByName(second.withColumn("__gen", lit(1))))
    val price = rowSet(expect2).map(r => Option(r(0)) -> r(1)).toMap
    assert(price == Map(Some("A") -> 9.0, Some("B") -> 4.0, Some("C") -> 5.0,
      None -> 0.5, Some("D") -> 2.0, Some("E") -> 1.0), "reference drifted")
    val full = tmp("latest_full") + "/orders"
    val inc = tmp("latest_inc") + "/orders"
    Seq(first -> expect1, second -> expect2).zipWithIndex.foreach {
      case ((batch, expected), i) =>
        val want = rowSet(expected)
        val nFull = Store.upsertOrders(spark, batch, full)
        val nInc = Store.upsertOrdersIncremental(spark, batch, inc, numBuckets = 4)
        assert(rowSet(spark.read.parquet(full)) == want, s"full rewrite, batch $i")
        assert(rowSet(Store.readOrdersIncremental(spark, inc)) == want, s"incremental, batch $i")
        // the returned count is observed in the write, and is the table's
        assert(nFull == want.size && nFull == spark.read.parquet(full).count())
        if (i == 0) assert(nInc == want.size && nInc == spark.read.parquet(inc).count())
    }
  }

  // posts with one order (API-0003) that cleaning drops for its price,
  // in a parquet directory so the plans that scan it can be told apart
  private def postsSource(name: String): (String, org.apache.spark.sql.DataFrame) = {
    val dir = tmp(name) + "/posts"
    spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 1L, "iPhone post"), Row(2L, 2L, "watch post"),
        Row(3L, 3L, "plain post")),
      StructType(Seq(StructField("id", LongType), StructField("userId", LongType),
        StructField("title", StringType)))).write.parquet(dir)
    dir -> Ingest.postsToOrders(spark.read.parquet(dir))
      .withColumn("price", when(col("order_id") === "API-0003", lit(-5.0))
        .otherwise(col("price")))
  }

  test("pipeline: one run executes the source scan once; counts come from the write") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val (src, orders) = postsSource("pipe_once")
    def scansSource(p: SparkPlan) = Executions.nodes(p).exists {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains(src))
      case _ => false
    }
    val config = GraftConfig(asOf = "2024-06-01", qualityThreshold = 0.0)
    val out = tmp("pipe_once_out")
    val (report, execs) = Executions.during(spark) {
      Pipeline.run(spark, Seq(orders), out, config)
    }
    assert(report.success, report.toString)
    // a plan scans the files itself, or through a cache it fills: count
    // the direct scans plus each distinct cache holding the scan
    val direct = execs.count(qe => scansSource(qe.executedPlan))
    val caches = execs.flatMap(qe => Executions.nodes(qe.executedPlan).collect {
      case m: InMemoryTableScanExec if scansSource(m.relation.cachedPlan) =>
        m.relation.cacheBuilder
    }).distinct
    assert(direct + caches.size == 1,
      s"source scanned by $direct plans directly and through ${caches.size} caches")
    assert(report.recordsStored == 2 && report.recordsFailed == 1, report.toString)
    assert(report.recordsStored == spark.read.parquet(s"$out/orders").count())
    // the counts are observed wherever the write's plan puts them: over the
    // ingest cache or the source, inside the persisted transformed frame
    // (exports/report), inside the incremental merge's caches (a second
    // run into the same table). Bounded: an observation that never reports
    // would wait forever.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def bounded(c: GraftConfig, dir: String) =
      Await.result(Future(Pipeline.run(spark, Seq(orders), dir, c)), 3.minutes)
    Seq(true, false).foreach { validate =>
      val c = config.copy(enableValidation = validate)
      val runs = Seq(
        bounded(c, tmp("pipe_once_plain")),
        bounded(c.copy(exportFormats = Seq("csv"), summaryReport = true),
          tmp("pipe_once_exports"))) ++ {
        val inc = tmp("pipe_once_inc")
        Seq.fill(2)(bounded(c.copy(incrementalStorage = true), inc))
      }
      runs.foreach { r =>
        assert(r.success && r.recordsStored == 2 && r.recordsFailed == 1,
          s"validation=$validate: $r")
      }
    }
  }

  test("pipeline: a runtime error in a source row fails storage and publishes nothing") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val (_, orders) = postsSource("pipe_fault")
    val faulty = orders.withColumn("customer_name",
      when(col("order_id") === "API-0002", raise_error(lit("injected fault")))
        .otherwise(col("customer_name")))
    Seq(true, false).foreach { validate =>
      val config = GraftConfig(asOf = "2024-06-01", qualityThreshold = 0.0,
        enableValidation = validate)
      val out = tmp("pipe_fault_out")
      assert(Pipeline.run(spark, Seq(orders), out, config).success)
      val before = rowSet(spark.read.parquet(s"$out/orders"))
      // bounded: a count read from an observation of the failed write
      // would wait forever
      val report = Await.result(Future(Pipeline.run(spark, Seq(faulty), out, config,
        runId = s"RUN-FAULT-$validate")), 3.minutes)
      assert(!report.success, report.toString)
      val storage = report.stages.find(_.stage == "storage").get
      assert(!storage.success && storage.error.exists(_.contains("injected fault")),
        storage.toString)
      assert(report.recordsStored == 0)
      assert(rowSet(spark.read.parquet(s"$out/orders")) == before)
      val run = spark.read.parquet(s"$out/pipeline_runs")
        .filter(col("run_id") === s"RUN-FAULT-$validate").collect()
      assert(run.map(_.getAs[String]("status")).toSeq == Seq("failed"))
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val d = pipeline.OrdersDomain.fromTpch(spark, sf).dropDuplicates("order_id")
    Store.writeBucketed(d.select("order_id", "price", "quantity"),
      "bk_orders", 4, Seq("order_id"), Seq("order_id"))
    Store.writeBucketed(d.select("order_id", "customer_name"),
      "bk_custs", 4, Seq("order_id"), Seq("order_id"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bk_orders").join(spark.table("bk_custs"), "order_id")
      assert(j.count() == d.count())
      val planStr = j.queryExecution.toString
      assert(!planStr.contains("ShuffleExchange") && !planStr.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$planStr")
      assert(planStr.contains("SelectedBucketsCount") || planStr.contains("Bucketed: true"),
        "scan did not report bucketing")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bk_orders")
      spark.sql("DROP TABLE IF EXISTS bk_custs")
    }
  }

  test("summary report: sections round-trip and match direct aggregates (storage.py:471-553)") {
    val schema2 = StructType(Seq(
      StructField("order_id", StringType), StructField("total_amount", DoubleType),
      StructField("quantity", LongType), StructField("customer_segment", StringType),
      StructField("product_brand", StringType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row("A-1", 10.0, 1L, "Premium", "Apple"),
      Row("A-2", 20.0, 2L, "Premium", "Apple"),
      Row("A-3", 30.0, 1L, "Standard", "Nintendo"),
      Row("A-4", null, 3L, "Standard", null),
      Row("A-5", 40.0, 2L, "Budget", "Apple")), schema2)
    val path = tmp("report") + "/orders_summary.json"
    val json = Store.summaryReport(spark, df, Some(path), generatedAt = "2026-01-01T00:00:00Z")
    // round-trip through a real JSON parser (Spark's reader)
    val rep = spark.read.option("multiLine", "true").json(path)
    val r = rep.collect().head
    assert(r.getAs[Long]("total_records") == 5)
    assert(r.getAs[Long]("total_fields") == 5)
    assert(r.getAs[Row]("missing_values").getAs[Long]("total_amount") == 1)
    assert(r.getAs[Row]("missing_values").getAs[Long]("order_id") == 0)
    assert(r.getAs[Row]("data_types").getAs[String]("quantity") == "bigint")
    val stats = r.getAs[Row]("summary_statistics")
    val ta = stats.getAs[Row]("total_amount")
    assert(ta.getAs[Long]("count") == 4)
    assert(ta.getAs[Double]("mean") == 25.0)
    assert(ta.getAs[Double]("median") == 25.0)
    assert(ta.getAs[Double]("min") == 10.0 && ta.getAs[Double]("max") == 40.0)
    val seg = stats.getAs[Row]("customer_segment")
    assert(seg.getAs[Long]("unique_values") == 3)
    assert(seg.getAs[Row]("most_common").getAs[Long]("Premium") == 2)
    val bi = r.getAs[Row]("business_intelligence")
    assert(bi.getAs[Row]("customer_segments").getAs[Long]("Standard") == 2)
    assert(bi.getAs[Row]("product_brands").getAs[Long]("Apple") == 3)
    val rev = bi.getAs[Row]("revenue_summary")
    assert(rev.getAs[Double]("total_revenue") == 100.0)
    assert(rev.getAs[Double]("average_order_value") == 25.0)
    assert(rev.getAs[Double]("highest_order") == 40.0)
    assert(rev.getAs[Double]("lowest_order") == 10.0)
    // returned text is what landed on disk
    assert(json.contains("\"report_generated_at\": \"2026-01-01T00:00:00Z\""))
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path)) == json)
    // a second publish to the same path replaces the content and leaves
    // neither a staging nor a backup sibling
    val json2 = Store.summaryReport(spark, df.filter(col("order_id") =!= "A-5"),
      Some(path), generatedAt = "2026-01-02T00:00:00Z")
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path)) == json2)
    assert(spark.read.option("multiLine", "true").json(path)
      .collect().head.getAs[Long]("total_records") == 4)
    Seq("__staging", "__backup").foreach(sfx => assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(path + sfx)),
      s"report publish left $path$sfx behind"))
    // empty input is a contract violation like the reference's failure result
    intercept[IllegalArgumentException] {
      Store.summaryReport(spark, df.filter(lit(false)), None)
    }
  }

  test("z-order export: files cover small 2-d boxes; beats single-column sort on the other dimension") {
    // two INDEPENDENT uniform dimensions — the layout z-order exists for
    val df = spark.range(0, 4096).selectExpr(
      "id",
      "CAST((id * 2654435761) % 4096 AS BIGINT) AS a",
      "CAST((id * 40503) % 4096 AS BIGINT) AS b")
    val zDir = tmp("zorder") + "/t"
    val sDir = tmp("singlesort") + "/t"
    Store.exportZOrdered(df, zDir, "a", "b", numFiles = 16)
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(sDir)
    // per-FILE bounding boxes — what parquet footer pruning sees
    def boxes(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("a").as("a0"), max("a").as("a1"),
        min("b").as("b0"), max("b").as("b1"))
      .collect()
    val zb = boxes(zDir)
    val sb = boxes(sDir)
    assert(zb.length == 16 && sb.length == 16)
    // what footer min/max pruning sees for a point predicate on one dim:
    // the number of files whose interval contains the probe value
    def hit(rows: Array[Row], lo: String, hi: String, v: Long) =
      rows.count(r => r.getAs[Long](lo) <= v && v <= r.getAs[Long](hi))
    val probes = Seq(100L, 1500L, 2048L, 3000L, 4000L)
    val zHitsB = probes.map(hit(zb, "b0", "b1", _)).sum
    val sHitsB = probes.map(hit(sb, "b0", "b1", _)).sum
    val zHitsA = probes.map(hit(zb, "a0", "a1", _)).sum
    // the single-dim sort leaves every file full-width in b — a b
    // predicate prunes NOTHING (16 files × 5 probes)
    assert(sHitsB == 16 * probes.length,
      s"baseline should be unprunable on b, got $sHitsB")
    // z-order keeps both dimensions prunable: a point predicate on
    // EITHER dim must touch at most half the files on average
    assert(zHitsB <= 8 * probes.length,
      s"z-order not prunable on b: $zHitsB of ${16 * probes.length}")
    assert(zHitsA <= 8 * probes.length,
      s"z-order not prunable on a: $zHitsA of ${16 * probes.length}")
    // layout change must not lose rows
    assert(spark.read.parquet(zDir).count() == 4096)
  }

  test("z-order export: three dimensions each stay prunable from one layout") {
    // three INDEPENDENT uniform dims; single-column sort would leave two
    // of them full-width per file
    val df = spark.range(0, 8192).selectExpr(
      "id",
      "CAST((id * 2654435761) % 4096 AS BIGINT) AS a",
      "CAST((id * 40503) % 4096 AS BIGINT) AS b",
      "CAST((id * 2246822519) % 4096 AS BIGINT) AS c")
    val dir = tmp("zorder3") + "/t"
    Store.exportZOrderedN(df, dir, Seq("a", "b", "c"), numFiles = 16, bits = 12)
    val boxes = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("a").as("a0"), max("a").as("a1"),
        min("b").as("b0"), max("b").as("b1"),
        min("c").as("c0"), max("c").as("c1"))
      .collect()
    assert(boxes.length == 16)
    def hit(lo: String, hi: String, v: Long) =
      boxes.count(r => r.getAs[Long](lo) <= v && v <= r.getAs[Long](hi))
    val probes = Seq(100L, 1500L, 2048L, 3000L, 4000L)
    Seq(("a0", "a1"), ("b0", "b1"), ("c0", "c1")).foreach { case (lo, hi) =>
      val hits = probes.map(hit(lo, hi, _)).sum
      assert(hits <= 12 * probes.length,
        s"dim $lo not prunable: $hits of ${16 * probes.length} file-probe hits")
    }
    assert(spark.read.parquet(dir).count() == 8192)
  }

  test("z-order export: integer normalization survives key spans past 2^47 (no long overflow)") {
    // keys spaced 2^50 apart: the naive (c − lo) * 2^16 intermediate
    // overflows long (span ≈ 2^60) and scrambles z; the div-based
    // normalization must keep the layout exact. With b constant, z is
    // monotone in a, so per-file a-intervals must be DISJOINT.
    val df = spark.range(0, 1024).selectExpr(
      "id", s"id * ${1L << 50}L AS a", "CAST(7 AS BIGINT) AS b")
    val dir = tmp("zwide") + "/t"
    Store.exportZOrdered(df, dir, "a", "b", numFiles = 8)
    val got = spark.read.parquet(dir)
    assert(got.count() == 1024)
    val boxes = got.groupBy(input_file_name().as("f"))
      .agg(min("a").as("a0"), max("a").as("a1")).collect()
      .map(r => (r.getAs[Long]("a0"), r.getAs[Long]("a1"))).sortBy(_._1).toList
    assert(boxes.length >= 2)
    boxes.sliding(2).foreach {
      case List(x, y) =>
        assert(x._2 < y._1, s"overlapping file a-ranges (z scrambled): $x $y")
      case _ => ()
    }
    // and a key span past 2^63 (full-range 64-bit ids): even the
    // SUBTRACTION c − lo overflows BIGINT here — the whole norm must run
    // in DECIMAL(38,0) or ANSI mode aborts the export
    val wide = spark.range(0, 1024).selectExpr(
      "id",
      s"CAST(CAST(-9223372036854775808 AS DECIMAL(38,0)) + " +
        s"CAST(id AS DECIMAL(38,0)) * ${1L << 54}L AS BIGINT) AS a",
      "CAST(3 AS BIGINT) AS b")
    val dir2 = tmp("zfull") + "/t"
    Store.exportZOrdered(wide, dir2, "a", "b", numFiles = 4)
    assert(spark.read.parquet(dir2).count() == 1024)
    val boxes2 = spark.read.parquet(dir2).groupBy(input_file_name().as("f"))
      .agg(min("a").as("a0"), max("a").as("a1")).collect()
      .map(r => (r.getAs[Long]("a0"), r.getAs[Long]("a1"))).sortBy(_._1).toList
    boxes2.sliding(2).foreach {
      case List(x, y) =>
        assert(x._2 < y._1, s"overlapping ranges at full span: $x $y")
      case _ => ()
    }
  }

  test("file-size audit: histogram accounts for every data file; compaction shifts it") {
    val dir = tmp("fsaudit") + "/t"
    spark.range(0, 2048).selectExpr("id", "id * 2 AS v")
      .repartition(16).write.parquet(dir)
    val before = Store.fileSizeAudit(spark, dir).collect()
    assert(before.map(_.getAs[Long]("n_files")).sum == 16,
      "every data file must be counted (and only data files)")
    val totalBytes = before.map(_.getAs[Long]("total_bytes")).sum
    assert(totalBytes > 0)
    // fewer, larger files → mass moves to fewer rows with higher buckets
    spark.read.parquet(dir).coalesce(2).write.parquet(dir + "2")
    val after = Store.fileSizeAudit(spark, dir + "2").collect()
    assert(after.map(_.getAs[Long]("n_files")).sum == 2)
    assert(after.map(_.getAs[Int]("log2_bytes")).max >=
      before.map(_.getAs[Int]("log2_bytes")).max,
      "compacted files should not be smaller than the originals")
  }

  test("skip manifest: pruned scan reads exactly the overlapping files and matches the unpruned filter") {
    val docs = Tables.documents(spark, sf)
    val table = tmp("skip_tbl") + "/docs"
    // range-layout: each of 5 files covers a narrow doc_id stripe
    docs.repartitionByRange(5, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(table)
    val manifest = tmp("skip_man")
    Store.buildSkipManifest(spark, table, manifest, Seq("doc_id", "n_chars"))
    val m = Store.readSkipManifest(spark, manifest).collect()
    assert(m.length == 5, s"one manifest row per data file: ${m.length}")
    assert(m.map(_.getAs[Long]("n_rows")).sum == docs.count())
    // a mid-range probe: result ≡ the full-scan filter…
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ids(ids.length / 3), ids(ids.length / 2))
    val pruned = Store.skipPrunedScan(spark, table, manifest, "doc_id", lo, hi)
    val full = spark.read.parquet(table)
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
    assert(pruned.exceptAll(full).count() == 0 &&
      full.exceptAll(pruned).count() == 0,
      "pruned scan changed the query result")
    // …and the scan plans over exactly the manifest-kept files
    val keptFiles = m.filter(r =>
      r.getAs[Long]("max_doc_id") >= lo && r.getAs[Long]("min_doc_id") <= hi)
      .map(_.getAs[String]("block")).toSet
    val readFiles = pruned.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(readFiles == keptFiles, s"read $readFiles vs kept $keptFiles")
    assert(keptFiles.size < 5, "probe should prune at least one file")
    // empty overlap → empty frame, schema preserved
    val none = Store.skipPrunedScan(spark, table, manifest, "doc_id",
      ids.last + 1000, ids.last + 2000)
    assert(none.count() == 0 && none.columns.sameElements(full.columns))
    // driver-rows guard: past the documented file-count bound every
    // manifest-collecting op fails LOUDLY instead of OOM-ing the driver
    val e1 = intercept[RuntimeException](Store.skipPrunedScan(
      spark, table, manifest, "doc_id", lo, hi, maxDriverRows = 1L))
    assert(e1.getMessage.contains("file rows > bound"), e1.getMessage)
    val e2 = intercept[RuntimeException](Store.appendToSkipManifest(
      spark, table, manifest, Seq("doc_id"), maxDriverRows = 1L))
    assert(e2.getMessage.contains("file rows > bound"), e2.getMessage)
    val e3 = intercept[RuntimeException](Store.syncSkipManifest(
      spark, table, manifest, Seq("doc_id"), maxDriverRows = 1L))
    assert(e3.getMessage.contains("file rows > bound"), e3.getMessage)
    // a probe that prunes to UNDER the bound passes even when the whole
    // manifest would not: the guard counts survivors, not the table
    val nar = Store.skipPrunedScan(spark, table, manifest, "doc_id",
      ids.head, ids.head, maxDriverRows = 2L)
    assert(nar.count() >= 1L)
    // the FRESH-listing path is guarded too: a tiny existing manifest
    // must not let an exploded table directory buffer every new file
    // status onto the driver (first append/sync after the explosion)
    val small = java.nio.file.Files.createTempDirectory("fresh_guard").toString
    val t2 = s"$small/table"
    val m2 = s"$small/manifest"
    spark.range(1).selectExpr("id AS doc_id").coalesce(1)
      .write.mode("overwrite").parquet(t2)
    Store.buildSkipManifest(spark, t2, m2, Seq("doc_id"))
    (2 to 5).foreach(i => spark.range(i, i + 1).selectExpr("id AS doc_id")
      .coalesce(1).write.mode("append").parquet(t2))
    val e4 = intercept[RuntimeException](Store.appendToSkipManifest(
      spark, t2, m2, Seq("doc_id"), maxDriverRows = 2L))
    assert(e4.getMessage.contains("data files"), e4.getMessage)
    val e5 = intercept[RuntimeException](Store.syncSkipManifest(
      spark, t2, m2, Seq("doc_id"), maxDriverRows = 2L))
    assert(e5.getMessage.contains("data files"), e5.getMessage)
  }

  test("skip manifest: append scans only the new files; crash window recovers") {
    val docs = Tables.documents(spark, sf)
    val table = tmp("skip_app") + "/docs"
    val old = docs.filter(col("doc_id") % 2 === 0)
    old.repartitionByRange(3, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(table)
    val manifest = tmp("skip_app_man")
    Store.buildSkipManifest(spark, table, manifest, Seq("doc_id"))
    // an appending writer adds 2 files without touching the old ones
    docs.filter(col("doc_id") % 2 === 1)
      .repartitionByRange(2, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("append").parquet(table)
    val scanned = Store.appendToSkipManifest(spark, table, manifest, Seq("doc_id"))
    assert(scanned == 2, s"append must scan ONLY the 2 new files, scanned $scanned")
    val merged = Store.readSkipManifest(spark, manifest)
    // merged manifest ≡ a from-scratch rebuild of the grown table
    val rebuilt = tmp("skip_app_man2")
    Store.buildSkipManifest(spark, table, rebuilt, Seq("doc_id"))
    val fromScratch = Store.readSkipManifest(spark, rebuilt)
    assert(merged.exceptAll(fromScratch).count() == 0 &&
      fromScratch.exceptAll(merged).count() == 0,
      "append-merged manifest must equal a rebuild")
    // no new files → no-op, nothing scanned
    assert(Store.appendToSkipManifest(spark, table, manifest, Seq("doc_id")) == 0)
    // crash window: manifest moved aside, publish not done — the reader
    // serves the backup WITHOUT renaming (repair is writer-only)
    val p = new java.io.File(manifest + "/manifest")
    assert(p.renameTo(new java.io.File(manifest + "/manifest__backup")))
    val recovered = Store.readSkipManifest(spark, manifest)
    assert(recovered.exceptAll(fromScratch).count() == 0,
      "backup read lost manifest state")
    assert(!p.exists(), "a CONSUMER read must not repair the swap")
    // the next writer op repairs first, then sees nothing new to scan
    assert(Store.appendToSkipManifest(spark, table, manifest, Seq("doc_id")) == 0)
    assert(p.exists(), "the writer must complete the crashed swap")
    // a rebuild whose scan fails at run time leaves the previous manifest:
    // one data file (sorted after the others, so schema inference never
    // opens it) stores doc_id as a string and fails its scan task. Without
    // AQE that stage runs inside the write job, after an Overwrite has
    // deleted its target (AQE runs map stages first)
    val bad = tmp("skip_app_bad")
    spark.range(1).selectExpr("'x' AS doc_id").coalesce(1)
      .write.mode("overwrite").parquet(bad)
    val badFile = new java.io.File(bad).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(badFile.toPath,
      java.nio.file.Paths.get(table, "zz-bad.parquet"))
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    intercept[Exception](
      Store.buildSkipManifest(noAqe, table, manifest, Seq("doc_id")))
    val kept = Store.readSkipManifest(spark, manifest)
    assert(kept.exceptAll(fromScratch).count() == 0 &&
      fromScratch.exceptAll(kept).count() == 0,
      "a failed rebuild must leave the previous manifest")
  }

  test("skip manifest: table dir with spaces/%/+ keys consistently — append is a no-op, pruned scan resolves") {
    // input_file_name() is URI-encoded, the listing side is decoded; a
    // mismatch here silently rescans every file on append (duplicating
    // manifest rows) and makes skipPrunedScan build non-existent paths
    val docs = Tables.documents(spark, sf)
    val table = tmp("skip enc%2F +dir") + "/docs table"
    docs.repartitionByRange(3, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(table)
    val manifest = tmp("skip_enc_man")
    Store.buildSkipManifest(spark, table, manifest, Seq("doc_id"))
    val m = Store.readSkipManifest(spark, manifest).collect()
    assert(m.length == 3, s"one row per file, got ${m.length}")
    // blocks are DECODED table-relative names: flat layout → bare basenames
    assert(m.forall(r => !r.getAs[String]("block").contains("/")),
      s"block keys leaked the encoded table prefix: ${m.map(_.getAs[String]("block")).toSeq}")
    // nothing new → append must scan 0 files and add 0 rows
    assert(Store.appendToSkipManifest(spark, table, manifest, Seq("doc_id")) == 0,
      "append rescanned files — encoded/decoded key mismatch")
    assert(Store.readSkipManifest(spark, manifest).count() == 3)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ids(ids.length / 3), ids(ids.length / 2))
    val pruned = Store.skipPrunedScan(spark, table, manifest, "doc_id", lo, hi)
    val full = spark.read.parquet(table)
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
    assert(pruned.exceptAll(full).count() == 0 &&
      full.exceptAll(pruned).count() == 0,
      "pruned scan over the hostile-named table changed the result")
  }

  test("skip manifest: sync reconciles a compaction rewrite (drops vanished rows, scans only new files)") {
    val docs = Tables.documents(spark, sf)
    val table = tmp("skip_sync") + "/docs"
    docs.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(table)
    val manifest = tmp("skip_sync_man")
    Store.buildSkipManifest(spark, table, manifest, Seq("doc_id"))
    // compaction: the table is REWRITTEN into 2 files (names all change)
    val compacted = spark.read.parquet(table).cache()
    compacted.count()
    compacted.repartitionByRange(2, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(table)
    compacted.unpersist()
    val (added, dropped) = Store.syncSkipManifest(
      spark, table, manifest, Seq("doc_id"))
    assert(added == 2 && dropped == 4,
      s"sync should scan 2 new files and drop 4 stale rows, got ($added, $dropped)")
    val synced = Store.readSkipManifest(spark, manifest)
    val rebuilt = tmp("skip_sync_man2")
    Store.buildSkipManifest(spark, table, rebuilt, Seq("doc_id"))
    val fromScratch = Store.readSkipManifest(spark, rebuilt)
    assert(synced.exceptAll(fromScratch).count() == 0 &&
      fromScratch.exceptAll(synced).count() == 0,
      "synced manifest must equal a rebuild of the compacted table")
    // idempotent: nothing changed → nothing scanned, nothing dropped
    assert(Store.syncSkipManifest(spark, table, manifest, Seq("doc_id")) == ((0L, 0L)))
    // and the pruned scan over the new layout still answers correctly
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ids(ids.length / 4), ids(ids.length / 3))
    val pruned = Store.skipPrunedScan(spark, table, manifest, "doc_id", lo, hi)
    val full = spark.read.parquet(table)
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
    assert(pruned.exceptAll(full).count() == 0 &&
      full.exceptAll(pruned).count() == 0)
  }

  test("skip manifest: partitioned layout indexes by relative path; pruned scan keeps partition columns") {
    val docs = Tables.documents(spark, sf)
    val table = tmp("skip_part") + "/docs"
    docs.write.mode("overwrite").partitionBy("lang").parquet(table)
    val manifest = tmp("skip_part_man")
    Store.buildSkipManifest(spark, table, manifest, Seq("doc_id"))
    val m = Store.readSkipManifest(spark, manifest).collect()
    // blocks are table-relative (lang=xx/part-...), one per data file
    assert(m.nonEmpty && m.forall(_.getAs[String]("block").startsWith("lang=")),
      s"blocks must be table-relative paths: ${m.map(_.getAs[String]("block")).mkString(",")}")
    assert(m.map(_.getAs[Long]("n_rows")).sum == docs.count())
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val pruned = Store.skipPrunedScan(spark, table, manifest, "doc_id", lo, hi)
    // the partition column survives the leaf-file read (basePath)
    assert(pruned.columns.contains("lang"),
      s"partition column lost: ${pruned.columns.mkString(",")}")
    val full = spark.read.parquet(table)
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
    assert(pruned.select(full.columns.map(col): _*).exceptAll(full).count() == 0 &&
      full.exceptAll(pruned.select(full.columns.map(col): _*)).count() == 0,
      "partitioned pruned scan changed the query result")
    // sync also speaks relative paths: a no-op reconcile sees no churn
    assert(Store.syncSkipManifest(spark, table, manifest, Seq("doc_id")) == ((0L, 0L)))
  }

  test("health check rolls up component status (pipeline.py:398-460)") {
    val h = Pipeline.healthCheck(spark, sf, tmp("health_out"))
    assert(h.overall == "healthy", h.toString)
    assert(h.components.length == 3)
    val broken = Pipeline.healthCheck(spark, "/nonexistent_dir", tmp("health_out2"))
    assert(broken.overall == "degraded")
  }
}
