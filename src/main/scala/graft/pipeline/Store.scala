package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage stage (ref `src/storage.py`): keyed upsert into the orders
  * table, run-telemetry and quality-metric sinks, file exports, retrieval,
  * and database stats.
  *
  * The reference's SQLite `INSERT OR REPLACE` with per-row loops
  * (`storage.py:167-203`) becomes: union existing ∪ incoming → keep-latest
  * per key (the native keep-first operator under the reversed order: one
  * exchange, one sort, a streaming pass) → atomic directory swap. At real
  * scale the
  * same call-sites swap to Delta/Iceberg `MERGE INTO` — the upsert
  * *semantic* (latest-wins by ingest time, unique `order_id`) is what this
  * module pins down. No per-row driver loops anywhere.
  */
object Store {

  // keep-latest = keep-first under the reversed order: the native
  // keep-first pass in its descending mode keeps each key's first row
  // under (orderCol, __gen, rest…) DESC NULLS LAST — the row
  // max(struct(orderCol, __gen, rest…)) picks (struct fields compare with
  // nulls smallest) — from one exchange, one sort and a streaming pass.
  // Applied on FIRST write too: an incoming batch can itself carry
  // duplicate keys, and the unique-key invariant must hold from the first
  // version.
  private def keepLatest(df: DataFrame, key: String, orderCol: String): DataFrame = {
    val ordCols = Seq(orderCol, "__gen").filter(df.columns.contains)
    val rest = df.columns.toSeq.filterNot(c => c == key || ordCols.contains(c))
    graft.operators.KeepFirst.native(df, Seq(key), ordCols ++ rest, descending = true)
      .drop("__gen")
  }

  /** `df` with a row-count observation attached, and its reader: counted
    * inside the first action on the returned frame (no job of its own).
    * Read it only after that action succeeded — a failed one leaves
    * whatever its tasks had counted. */
  private[graft] def observedCount(df: DataFrame): (DataFrame, () => Long) = {
    val rows = org.apache.spark.sql.Observation()
    (df.observe(rows, count(lit(1)).as("rows")),
      () => rows.get("rows").asInstanceOf[Long])
  }

  /** Latest-wins keyed upsert into a parquet table directory (S7).
    * `orderCol` decides recency (ties → incoming wins via priority).
    *
    * @return rows in the published table, counted by an observation on
    *         the merge inside the staging write (no read-back) */
  def upsertOrders(spark: SparkSession, incoming: DataFrame, tablePath: String,
      key: String = "order_id", orderCol: String = "ingested_at"): Long = {
    // a writer: finish a crashed previous swap before reading the table
    // (and before the layout check, which reads the restored marker)
    repairPublished(spark, tablePath, "upsert swap")
    // a full rewrite of a bucket-partitioned table would flatten __bucket
    // into a data column and strand the partition dirs — refuse rather
    // than silently convert the layout
    if (storedBucketCount(spark, tablePath).isDefined)
      sys.error(s"$tablePath is in incremental (bucket-partitioned) layout; " +
        "use upsertOrdersIncremental")
    // after the repair this is the table itself, or nothing yet
    val (merged, written) = observedCount(keepLatest(
      resolvePublished(spark, tablePath) match {
        case Some(cur) =>
          spark.read.parquet(cur).withColumn("__gen", lit(0))
            .unionByName(incoming.withColumn("__gen", lit(1)),
              allowMissingColumns = true)
        case None => incoming
      }, key, orderCol))
    publishAtomic(spark, merged, tablePath, "upsert swap")
    written()
  }

  final val UpsertBuckets = 64

  /** Layout marker for the incremental table: records the bucket count the
    * table was CREATED with. Bucket count is a create-time property (like
    * bucketing in any table format) — a merge computed with a different
    * modulus would look up keys in the wrong partitions and silently
    * duplicate them, so later upserts always use the stored count and the
    * caller's `numBuckets` only applies on creation. */
  private final val BucketsMarkerFile = "_graft_buckets"

  private def storedBucketCount(spark: SparkSession, tablePath: String): Option[Int] = {
    val fs = fileSystem(spark, tablePath)
    val marker = new Path(tablePath, BucketsMarkerFile)
    if (fs.exists(marker)) Some(readSmall(fs, marker).trim.toInt) else None
  }

  private def writeBucketMarker(spark: SparkSession, tablePath: String, n: Int): Unit =
    writeSmall(fileSystem(spark, tablePath), new Path(tablePath, BucketsMarkerFile),
      n.toString)

  /** Incremental latest-wins upsert — the 100 TB path for S7. The table is
    * laid out as parquet partitioned by `__bucket = pmod(hash(key), n)`, so
    * a batch only ever touches the partitions its keys hash into:
    *
    *   1. incoming gains its `__bucket`;
    *   2. the CURRENT rows of only those buckets are read back (the
    *      `isin` filter on the partition column prunes at planning time —
    *      untouched buckets are never opened);
    *   3. keep-latest merges current ∪ incoming per key (same operator
    *      as [[upsertOrders]]);
    *   4. dynamic partition overwrite publishes ONLY the partitions present
    *      in the merged frame.
    *
    * A 1,000-row batch against a 100 TB table therefore rewrites at most
    * min(1000, n) bucket directories — ~1/n of the table each — instead of
    * the whole table; the full rewrite in [[upsertOrders]] stays as the
    * schema-change / compaction path. This is the reference's per-row
    * `INSERT OR REPLACE` (`storage.py:114-228`) re-expressed as a
    * partition-pruned merge; on a MERGE-capable format (Delta/Iceberg) the
    * same call-site becomes `MERGE INTO` with file-level pruning.
    *
    * Bucket-by-hash (not by date) keeps the write load uniform: every
    * batch's keys spread over all buckets evenly, so no partition ever
    * becomes the hot one. Commit granularity is per-partition (Spark's
    * dynamic overwrite commit protocol), matching the reference's
    * per-batch SQLite commits (`storage.py:196`). */
  /** @return rows now live in the partitions this batch touched (= the
    *         size of the published merge, counted by an observation on
    *         the merge inside the write — no read-back) */
  def upsertOrdersIncremental(spark: SparkSession, incoming: DataFrame,
      tablePath: String, key: String = "order_id",
      orderCol: String = "ingested_at", numBuckets: Int = UpsertBuckets): Long = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    // a compaction crashed between its renames leaves the table at the
    // backup only: restore it, or this batch would seed a new table
    repairPublished(spark, tablePath, "incremental upsert")
    val fs = fileSystem(spark, tablePath)
    val target = new Path(tablePath)
    val exists = fs.exists(target)
    val stored = storedBucketCount(spark, tablePath)
    if (exists && stored.isEmpty) {
      // distinguish "plain-layout table" from "incremental table whose
      // first write crashed between the data publish and the marker":
      // sending the latter to upsertOrders would flatten __bucket into a
      // data column and silently corrupt the layout
      val hasBucketDirs = fs.listStatus(target)
        .exists(_.getPath.getName.startsWith("__bucket="))
      if (hasBucketDirs) sys.error(
        s"$tablePath has incremental bucket partitions but no bucket " +
          "marker (a first write likely crashed before the marker); " +
          "restore the marker with the original bucket count, or " +
          "recreate the table — do NOT run upsertOrders on it")
      sys.error(s"$tablePath exists but is not in incremental layout " +
        "(no bucket marker); use upsertOrders, or migrate the table first")
    }
    // stored count wins: the modulus is fixed at creation (see marker doc)
    val buckets = stored.getOrElse(numBuckets)
    val bucketed = incoming
      .withColumn("__bucket", pmod(hash(col(key)), lit(buckets)))
    if (!exists) {
      val (merged, written) = observedCount(keepLatest(bucketed, key, orderCol))
      writeBuckets(merged, tablePath)
      writeBucketMarker(spark, tablePath, buckets)
      written()
    } else mergeIntoBuckets(spark, tablePath, bucketed, None, key, orderCol)
  }

  /** Write a bucketed frame into its `__bucket=` partitions, replacing only
    * the partitions present in it (dynamic overwrite). It is clustered by
    * the layout column first: partitionBy splits each task's output per
    * bucket value, so an unclustered frame (32 shuffle partitions) would
    * shed up to 32 small files into every bucket it touches; clustering
    * lands each bucket's rows in one task → one compact file per rewrite. */
  private def writeBuckets(df: DataFrame, path: String): Unit =
    df.repartition(col("__bucket")).write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(path)

  private val PendingClearFile = "_pending_clear"

  /** Finish an interrupted emptied-bucket clear: a `_pending_clear`
    * marker lists buckets a previous merge meant to delete — remove them
    * (idempotent) before reading anything, so a crashed apply's ghost
    * rows can't be read back into the next merge. */
  private def repairPendingClear(fs: FileSystem,
      tablePath: String): Unit = {
    val marker = new Path(tablePath, PendingClearFile)
    if (fs.exists(marker)) {
      readSmall(fs, marker).split(",").filter(_.nonEmpty).map(_.toInt)
        .foreach(b => fs.delete(new Path(tablePath, s"__bucket=$b"), true))
      fs.delete(marker, false)
    }
  }

  /** Shared bucket-merge-and-publish core of [[upsertOrdersIncremental]]
    * and [[applyDelta]] — ONE copy of the bucket arithmetic, pruned
    * read-back, keep-latest merge, clustered publish and emptied-bucket
    * clearing, so a layout change can't land in one write path and not
    * the other (the wrong-modulus hazard the bucket marker exists for).
    * `bucketedIncoming` already carries `__bucket`; `deleteKeys` (when
    * present) is a `(key, __bucket)` frame whose keys are removed from
    * the current slice before the merge and whose buckets count as
    * touched even when nothing is upserted into them.
    *
    * Crash contract: emptied-bucket clears are recorded in a
    * `_pending_clear` marker AFTER the publish (see the inline rationale)
    * and repaired on the next merge AND on every incremental read
    * ([[readOrdersIncremental]]) so ghost rows never reach a reader; a
    * crash anywhere in the sequence is
    * converged by RETRYING the same batch/delta (latest-wins and key
    * deletes make re-application idempotent).
    *
    * Both the incoming frame and the merge are persisted for the span of
    * the call: the merge runs one collect (surviving buckets) plus the
    * write, and the incoming frame feeds two consumers — without the
    * caches a CDC delta's full-outer diff would execute three times. */
  private def mergeIntoBuckets(spark: SparkSession, tablePath: String,
      bucketedIncoming: DataFrame, deleteKeys: Option[DataFrame],
      key: String, orderCol: String): Long = {
    val fs = fileSystem(spark, tablePath)
    repairPendingClear(fs, tablePath)
    val incoming = bucketedIncoming.persist()
    try {
      // ≤ buckets small ints — a metadata-scale collect, not data.
      // Delete keys contribute their buckets too: a delete-only bucket
      // must still be read back and rewritten (or cleared)
      val touched = deleteKeys.fold(incoming.select("__bucket"))(dk =>
          incoming.select("__bucket").unionByName(dk.select("__bucket")))
        .distinct().collect().map(_.getInt(0)).toSeq
      val currentSlice = spark.read.parquet(tablePath)
        .filter(col("__bucket").isin(touched: _*))
      val base = deleteKeys.fold(currentSlice)(dk =>
        currentSlice.join(dk.select(key), Seq(key), "left_anti"))
      val merged = keepLatest(
        base.withColumn("__gen", lit(0))
          .unionByName(incoming.withColumn("__gen", lit(1)),
            allowMissingColumns = true),
        key, orderCol).persist()
      try {
        // surviving buckets must come from the MERGED frame, pre-write: a
        // bucket with zero survivors is absent from it, so dynamic
        // overwrite skips it and a post-write read would still see old rows
        val surviving = merged.select("__bucket").distinct()
          .collect().map(_.getInt(0)).toSet
        if (surviving.isEmpty) {
          // would empty the whole table iff no untouched bucket holds rows
          // — and an all-deleted parquet table keeps no schema-bearing
          // file, so it becomes unreadable; refuse BEFORE touching anything
          val untouchedDirs = fs.listStatus(
              new Path(tablePath))
            .map(_.getPath.getName)
            .filter(_.startsWith("__bucket="))
            .map(_.stripPrefix("__bucket=").toInt)
            .filterNot(touched.contains)
          if (untouchedDirs.isEmpty) sys.error(
            s"merge deletes every remaining row of $tablePath — an empty " +
              "parquet table has no schema-bearing files; drop the table " +
              "directory instead")
        }
        val toClear = touched.filterNot(surviving)
        // an empty merge rewrites no partition: skip the write (and its
        // observation, which an empty plan may never report)
        val (counted, written) = observedCount(merged)
        if (surviving.nonEmpty) writeBuckets(counted, tablePath)
        // the marker is written AFTER the publish, never before: a
        // pre-publish marker would let the next merge's repair delete a
        // bucket whose replacement data was never committed — if that
        // bucket held the table's only rows, the table becomes
        // permanently unreadable. Post-publish, repair is always safe
        // (listed buckets hold only stale rows). Residual window: a crash
        // BETWEEN the publish and this marker leaves stale rows in
        // fully-emptied buckets until the same delta is retried — the
        // price of plain parquet having no atomic multi-file commit.
        if (toClear.nonEmpty) {
          writeSmall(fs, new Path(tablePath, PendingClearFile),
            toClear.mkString(","))
          toClear.foreach { b =>
            fs.delete(new Path(tablePath, s"__bucket=$b"), true)
          }
          fs.delete(new Path(tablePath, PendingClearFile), false)
        }
        // the touched partitions now hold exactly the merge: the
        // surviving buckets were rewritten from it, the rest cleared
        if (surviving.isEmpty) 0L else written()
      } finally merged.unpersist()
    } finally incoming.unpersist()
  }

  /** Read an incrementally-upserted table without its layout column.
    * Repairs a `_pending_clear` marker first: after a crash between the
    * publish and the emptied-bucket deletes, the listed buckets hold only
    * ghost rows (the marker is written post-publish, so repair is always
    * safe) — without this, readers would see them until the next MERGE
    * happened to run. Repair is idempotent and metadata-only. Also
    * recovers a [[compactBuckets]] swap that crashed between its two
    * renames (table at the backup only), as [[upsertOrders]] does for
    * the full-rewrite path. */
  def readOrdersIncremental(spark: SparkSession, tablePath: String): DataFrame = {
    repairPublished(spark, tablePath, "incremental read")
    repairPendingClear(fileSystem(spark, tablePath), tablePath)
    spark.read.parquet(tablePath).drop("__bucket")
  }

  /** CDC apply: merge a CLASSIFIED delta into an incrementally-bucketed
    * table — the consumer of a snapshot diff (`ext.Snapshot`). The delta
    * carries `changeCol` ∈ insert/update/delete plus the table's payload
    * columns; deletes remove the key, inserts/updates merge latest-wins.
    * Same partition-pruned shape as [[upsertOrdersIncremental]]: only
    * buckets containing a delta key are read or rewritten — this is what
    * `MERGE INTO ... WHEN MATCHED DELETE` compiles to on a plain-parquet
    * layout. A bucket whose rows are ALL deleted vanishes from the merged
    * frame, which dynamic overwrite would silently skip — those buckets
    * are cleared explicitly. */
  def applyDelta(spark: SparkSession, delta: DataFrame, tablePath: String,
      key: String = "order_id", orderCol: String = "ingested_at",
      changeCol: String = "change_type"): Long = {
    repairPublished(spark, tablePath, "delta apply")
    val buckets = storedBucketCount(spark, tablePath).getOrElse(
      sys.error(s"$tablePath is not in incremental layout; seed it with " +
        "upsertOrdersIncremental before applying deltas"))
    // persist the classified delta FIRST: validation, deletes and upserts
    // all read it, and in the designed flow it's a snapshot diff's
    // full-outer join — validating the raw frame would add a whole
    // uncached execution of that join before the cache even fills
    val bucketedDelta = delta
      .withColumn("__bucket", pmod(hash(col(key)), lit(buckets))).persist()
    try {
      // fail fast on malformed classifications: a silently-dropped row
      // (typo'd or null change_type) would half-apply the delta with a
      // normal-looking return value
      val badRow = bucketedDelta
        .filter(!coalesce(col(changeCol), lit("<null>"))
          .isin("insert", "update", "delete"))
        .select(col(key), col(changeCol)).limit(1).collect()
      if (badRow.nonEmpty) sys.error(
        s"delta row ${badRow.head.get(0)} has unrecognized $changeCol " +
          s"'${badRow.head.get(1)}' (expected insert/update/delete)")
      val deleteKeys = bucketedDelta
        .filter(col(changeCol) === "delete").select(col(key), col("__bucket"))
      val upserts = bucketedDelta
        .filter(col(changeCol) =!= "delete").drop(changeCol)
      mergeIntoBuckets(spark, tablePath, upserts, Some(deleteKeys), key, orderCol)
    } finally bucketedDelta.unpersist()
  }

  /** Re-size an incremental table's bucket modulus — the maintenance pass
    * for after heavy ingest. The merge path keeps every bucket at one
    * compact file per rewrite, so what drifts over a table's life is not
    * per-bucket fragmentation but the MODULUS itself: a table seeded with
    * 64 buckets holds 64 tiny files (and pays 64 task launches per full
    * scan) while it's small, and a table that grew 100× packs whole
    * partitions into files far past the size a scan wants to split on.
    * Compaction recomputes the bucket count from the table's CURRENT
    * bytes against `targetFileBytes`, rewrites once, and publishes via
    * the same backup-swap protocol as [[upsertOrders]] (crash-safe; the
    * staging table carries its marker BEFORE the swap, so no published
    * state is ever marker-less). Keyed lookups and merges are untouched —
    * the next [[upsertOrdersIncremental]]/[[applyDelta]] reads the new
    * modulus from the marker.
    *
    * @return rows in the compacted table, counted by an observation
    *         inside the rewrite (read only after the publish succeeded) */
  def compactBuckets(spark: SparkSession, tablePath: String,
      targetFileBytes: Long = 128L << 20, key: String = "order_id"): Long = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    repairPublished(spark, tablePath, "compact swap")
    val fs = fileSystem(spark, tablePath)
    repairPendingClear(fs, tablePath)
    storedBucketCount(spark, tablePath).getOrElse(
      sys.error(s"$tablePath is not in incremental layout; compactBuckets " +
        "only applies to bucket-partitioned tables"))
    val target = new Path(tablePath)
    val dataBytes = fs.listStatus(target)
      .filter(_.getPath.getName.startsWith("__bucket="))
      .map(d => fs.getContentSummary(d.getPath).getLength).sum
    val newBuckets = math.max(1L,
      (dataBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val (rebucketed, written) = observedCount(spark.read.parquet(tablePath)
      .drop("__bucket")
      .withColumn("__bucket", pmod(hash(col(key)), lit(newBuckets))))
    publishAtomicWith(spark, tablePath, "compact swap") { staging =>
      writeBuckets(rebucketed, staging)
      writeBucketMarker(spark, staging, newBuckets)
    }
    written()
  }

  /** Run-telemetry sink (S9; `pipeline_runs` DDL `storage.py:70-82`). */
  def appendPipelineRun(spark: SparkSession, path: String, runId: String,
      pipelineName: String, startTime: String, endTime: String, status: String,
      recordsProcessed: Long, recordsFailed: Long,
      errorMessage: Option[String]): Unit = {
    import spark.implicits._
    Seq((runId, pipelineName, startTime, endTime, status, recordsProcessed,
      recordsFailed, errorMessage.orNull))
      .toDF("run_id", "pipeline_name", "start_time", "end_time", "status",
        "records_processed", "records_failed", "error_message")
      .write.mode(SaveMode.Append).parquet(path)
  }

  /** Long-format quality-metrics sink (S10; DDL `storage.py:85-97`). */
  def appendQualityMetrics(spark: SparkSession, path: String, runId: String,
      metrics: Seq[(String, Double)], metricType: String, sourceTable: String,
      measuredAt: String): Unit = {
    import spark.implicits._
    metrics.map { case (name, value) =>
      (runId, name, value, metricType, sourceTable, measuredAt)
    }.toDF("run_id", "metric_name", "metric_value", "metric_type",
      "source_table", "measured_at")
      .write.mode(SaveMode.Append).parquet(path)
  }

  /** A15: average of a named metric over time (`storage.py:358-360`). */
  def avgMetric(spark: SparkSession, metricsPath: String, metricName: String): Option[Double] = {
    // an append-only sink: never swapped, so nothing to repair
    resolvePublished(spark, metricsPath).flatMap { p =>
      val r = spark.read.parquet(p).filter(col("metric_name") === metricName)
        .agg(avg(col("metric_value")).as("v")).collect().head
      Option(r.getAs[java.lang.Double]("v")).map(_.doubleValue())
    }
  }

  /** Partitioned parquet write: the scale-path layout (partition pruning
    * replaces the reference's SQLite B-tree indexes, SURVEY.md §4.1).
    * A filter on a partition column shows up as PartitionFilters in the
    * scan and skips directories entirely. */
  def exportPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed table write: the co-located-join layout. Two tables
    * bucketed by the same key into the same bucket count join WITHOUT a
    * shuffle exchange on either side — at 100 TB, pre-bucketing the orders
    * table by `order_id` turns every upsert/merge/retrieval join into a
    * local zipper (replaces the reference's SQLite B-tree index role for
    * joins, as partition pruning does for point lookups). `sortCols`
    * additionally persists per-bucket sort order so sort-merge joins skip
    * their sort. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** Interleave the low `bits` of N non-negative longs into a Z-order
    * (Morton) value — bit i of column j lands at position N·i + j. Pure
    * bitwise Column arithmetic, whole-stage-codegen friendly. Requires
    * N·bits ≤ 63 so the code fits a signed long. */
  def interleaveBitsN(cols: Seq[Column], bits: Int): Column = {
    val d = cols.length
    require(d >= 2 && d * bits <= 63,
      s"z-order code must fit a long: dims=$d bits=$bits")
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftleft(shiftright(c, i).bitwiseAND(1L), d * i + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Two-column form of [[interleaveBitsN]]. */
  def interleaveBits(a: Column, b: Column, bits: Int): Column =
    interleaveBitsN(Seq(a, b), bits)

  /** Z-ordered parquet export — the multi-dimensional file layout: rows
    * are range-partitioned and sorted by the Morton interleave of two
    * key columns, so each output FILE covers a small rectangle of the
    * (colA, colB) space instead of a thin full-width stripe. Parquet
    * footer min/max stats then prune files for predicates on EITHER
    * column — the layout a 100 TB table wants when queries filter on two
    * independent dimensions (a single-column sort gives perfect pruning
    * on one dimension and none on the other; StoreSpec measures the box
    * areas). Columns are min/max-normalized to `bits` via exact INTEGER
    * arithmetic from a 1-row stats broadcast (index metadata, like the
    * IVF centroids): norm = `(c − lo) · 2^bits div (span + 1)` computed
    * in DECIMAL(38,0) — exact integer multiply-then-floor-divide (never
    * float `/`) that uses the FULL per-dimension code range at any key
    * span up to 2^63 (a long intermediate overflows past a ~2^47 span
    * and scrambles the layout; a divide-first width form wastes up to
    * half the code range just above 2^bits spans). The z value is
    * dropped before writing. */
  def exportZOrdered(df: DataFrame, path: String, colA: String,
      colB: String, numFiles: Int, bits: Int = 16): Unit =
    exportZOrderedN(df, path, Seq(colA, colB), numFiles, bits)

  /** N-dimensional form of [[exportZOrdered]] — a 100 TB table queried
    * on three independent dimensions (time, tenant, key) wants all three
    * prunable from one layout. Per-dimension resolution is `bits` codes
    * (N·bits ≤ 63); more dimensions trade per-dimension resolution for
    * breadth, which is the standard Z-order bargain. */
  def exportZOrderedN(df: DataFrame, path: String, zCols: Seq[String],
      numFiles: Int, bits: Int = 16): Unit = {
    require(numFiles >= 1 && bits >= 1,
      s"bad z-order params: numFiles=$numFiles bits=$bits")
    val aggs = zCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c).cast("long")).as(s"min_$i"),
        max(col(c).cast("long")).as(s"max_$i"))
    }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val scale = 1L << bits
    def norm(c: String, i: Int): Column = expr(
      // subtraction in DECIMAL too: a BIGINT (c − lo) overflows on keys
      // spanning more than 2^63 (full-range 64-bit ids)
      s"CAST(((CAST(CAST($c AS BIGINT) AS DECIMAL(38,0)) - min_$i) * ${scale}L) div " +
        s"(CAST(max_$i AS DECIMAL(38,0)) - min_$i + 1L) AS BIGINT)")
    val z = interleaveBitsN(
      zCols.zipWithIndex.map { case (c, i) => norm(c, i) }, bits)
    val statCols = zCols.indices.flatMap(i => Seq(s"min_$i", s"max_$i"))
    df.crossJoin(broadcast(stats))
      .withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z" +: statCols: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Small-files audit — the operational probe that decides when to run
    * [[compactBuckets]]: a log2 size histogram of a table directory's
    * data files (bucket = floor(log2(bytes))), built from the NAMENODE
    * LISTING only — no file is opened. A healthy table concentrates near
    * the target file size; mass in low buckets is the small-files
    * problem (open/seek overhead per task at read time), mass in one
    * high bucket is an unsplittable-file risk. Listing is driver-side by
    * nature (file metadata, one entry per file — the same class as a
    * partition discovery), bounded output ≤64 rows. */
  def fileSizeAudit(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fold into the ≤64 log2 buckets AS the iterator streams: the
    // audit's driver state is the bucket map, never a per-file buffer —
    // file count is a dial, and the op built to FIND a small-file
    // explosion must not OOM on one
    val buckets =
      scala.collection.mutable.Map[Int, (Long, Long, Long, Long)]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        val b = f.getLen
        val k = 63 - java.lang.Long.numberOfLeadingZeros(math.max(b, 1L))
        val (n, t, mn, mx) = buckets.getOrElse(k,
          (0L, 0L, Long.MaxValue, Long.MinValue))
        buckets(k) = (n + 1, t + b, math.min(mn, b), math.max(mx, b))
      }
    }
    buckets.toSeq.map { case (k, (n, t, mn, mx)) => (k, n, t, mn, mx) }
      .toDF("log2_bytes", "n_files", "total_bytes", "min_bytes",
        "max_bytes")
      .orderBy("log2_bytes")
  }

  /** Zone map — per-block min/max/count statistics over `statCols`, the
    * data-skipping structure behind [[buildSkipManifest]]: one hash
    * aggregate whose cardinality is the number of BLOCKS (files,
    * granules), never rows. `blockKey` names the block: the file basename
    * for a physical manifest, a key-range expression for a logical zone
    * map. Output is index metadata — bounded by block count — which is
    * what makes driver-side pruning decisions on it legitimate. */
  def zoneMap(df: DataFrame, blockKey: Column,
      statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "zoneMap needs at least one stat column")
    val aggs = count(lit(1)).as("n_rows") +:
      statCols.flatMap(c => Seq(
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(blockKey.as("block")).agg(aggs.head, aggs.tail: _*)
  }

  /** The table directory's absolute PATH component (trailing slash,
    * scheme/authority stripped) — the one spelling both
    * `input_file_name()` (a URI, `file:///…`) and the namenode listing
    * (a qualified Path, `file:/…`) reduce to, so stripping it yields
    * the same TABLE-RELATIVE file path on both sides and the manifest's
    * `block` key works for partitioned layouts (`lang=en/part-*.parquet`),
    * not just flat directories. */
  private def qualifiedPrefix(spark: SparkSession, tableDir: String): String = {
    val p = new Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(p).toUri.getPath + "/"
  }

  /** `input_file_name()` reduced to the table-relative path: drop the
    * URI scheme + authority (`file://`, `hdfs://nn:8020`), decode the
    * %-escapes (`input_file_name` is URI-ENCODED while the namenode
    * listing side uses the decoded `Path.toUri.getPath` — a directory
    * with spaces/%-chars would otherwise mismatch every key), then strip
    * exactly ONE leading table-directory prefix. `url_decode` is
    * form-decoding ('+' → space), so literal '+' is protected first. */
  private def relFileCol(prefix: String): Column = {
    val rawPath = regexp_replace(input_file_name(),
      "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "")
    val decoded = url_decode(regexp_replace(rawPath, "\\+", "%2B"))
    regexp_replace(decoded,
      lit("^" + java.util.regex.Pattern.quote(prefix)), lit(""))
  }

  /** Build a per-FILE skip manifest for a parquet table directory — the
    * Delta/Iceberg data-skipping stats on plain parquet: one scan of the
    * table, one [[zoneMap]] row per data file (block = the file's
    * table-relative path, so partitioned layouts work and names stay
    * unique). At 100 TB / 1 GB files the manifest is ~10^5 rows —
    * file-level index metadata, the same class as a partition listing.
    * Readers then prune files against a predicate BEFORE any footer is
    * opened ([[skipPrunedScan]]), which beats parquet's own row-group
    * stats by never scheduling a task for a pruned file at all. A
    * rebuild publishes through [[republish]], so a build that fails
    * leaves the previous manifest in place. */
  def buildSkipManifest(spark: SparkSession, tableDir: String,
      manifestDir: String, statCols: Seq[String]): Unit = {
    val prefix = qualifiedPrefix(spark, tableDir)
    republish(spark, s"$manifestDir/manifest", "manifest build")(zoneMap(
      spark.read.parquet(tableDir).withColumn("__f", relFileCol(prefix)),
      col("__f"), statCols))
  }

  /** Documented bound on the skip-manifest rows the maintenance/prune
    * ops pull to the DRIVER: the manifest is per-FILE metadata (~10^5
    * rows at 100 TB / 1 GB files — comfortably under this), but file
    * count is a dial, not a constant: a small-file explosion (10^8
    * 1 MB files) would quietly turn these collects into driver OOMs.
    * Past the bound the ops fail LOUDLY ([[manifestDriverGuard]])
    * instead — the outs are compaction (the small-file problem is the
    * real bug) or a partitioned manifest keyed so maintenance touches
    * one partition's rows at a time. */
  final val MaxManifestDriverRows: Long = 5000000L

  /** The driver-collect guard shared by the manifest maintenance ops:
    * one 1-row count before any `collect()` of manifest/block rows. */
  private def manifestDriverGuard(df: DataFrame, what: String,
      bound: Long): Unit = {
    val n = df.agg(count(org.apache.spark.sql.functions.lit(1))).head().getLong(0)
    if (n > bound)
      sys.error(s"$what: manifest holds $n file rows > bound $bound — " +
        "file count is a dial, not a constant; compact the table's " +
        "small files or partition the manifest (see MaxManifestDriverRows)")
  }

  /** Fold files that appeared in `tableDir` SINCE the manifest was last
    * published into it — the incremental maintenance op: only the NEW
    * files are scanned (an appending writer — streaming sink, delta
    * apply — adds files without touching old ones, so their manifest
    * rows stay valid), and the merged manifest is published with the
    * staging + backup rename discipline so a crashed append leaves the
    * previous manifest recoverable. Returns the number of new files
    * scanned. */
  def appendToSkipManifest(spark: SparkSession, tableDir: String,
      manifestDir: String, statCols: Seq[String],
      maxDriverRows: Long = MaxManifestDriverRows): Long = {
    repairPublished(spark, s"$manifestDir/manifest", "manifest append")
    val existing = readSkipManifest(spark, manifestDir)
    manifestDriverGuard(existing, "manifest append", maxDriverRows)
    val known = existing.select("block").collect().map(_.getString(0)).toSet
    val fresh = listDataFiles(spark, tableDir, maxDriverRows)
      .filterNot { case (rel, _) => known.contains(rel) }
    if (fresh.nonEmpty) {
      // fresh blocks are disjoint from known by construction, so the
      // merge is a pure union — no re-aggregation (which would both add
      // a shuffle and silently sum a rewritten-in-place file's old and
      // new stats instead of surfacing the contract violation as a
      // duplicate manifest row)
      val merged = existing.unionByName(
        manifestRows(spark, tableDir, fresh.map(_._2), statCols))
      publishAtomic(spark, merged, s"$manifestDir/manifest", "manifest append")
    }
    fresh.size.toLong
  }

  /** (tableRelativePath, absolutePath) of every data file under the
    * table directory — one namenode listing, the partition-discovery
    * class of driver-side metadata. Bounded like every other manifest
    * driver buffer: the listing aborts at `maxFiles` (the RemoteIterator
    * lets it stop before buffering more), so the small-file-explosion
    * scenario a tiny EXISTING manifest can't catch — first append/sync
    * against an exploded table — fails loudly instead of OOM-ing the
    * driver mid-listing. */
  private def listDataFiles(spark: SparkSession, tableDir: String,
      maxFiles: Long = MaxManifestDriverRows): Seq[(String, String)] = {
    val prefix = qualifiedPrefix(spark, tableDir)
    val dir = new Path(tableDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ListBuffer[(String, String)]()
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        if (out.size >= maxFiles)
          sys.error(s"listDataFiles: $tableDir holds more than $maxFiles " +
            "data files — file count is a dial, not a constant; compact " +
            "the table's small files or partition the manifest (see " +
            "MaxManifestDriverRows)")
        out += ((f.getPath.toUri.getPath.stripPrefix(prefix),
          f.getPath.toString))
      }
    }
    out.toSeq
  }

  /** Zone-map rows for specific files, keyed by table-relative path.
    * `basePath` keeps partition-directory columns visible even though
    * the scan lists leaf files. */
  private def manifestRows(spark: SparkSession, tableDir: String,
      absPaths: Seq[String], statCols: Seq[String]): DataFrame = {
    val prefix = qualifiedPrefix(spark, tableDir)
    zoneMap(
      spark.read.option("basePath", tableDir).parquet(absPaths: _*)
        .withColumn("__f", relFileCol(prefix)),
      col("__f"), statCols)
  }

  /** Reconcile the manifest with the directory's CURRENT file set — the
    * maintenance op for COMPACTION and delta-apply rewrites, which
    * replace files rather than only adding them (appendToSkipManifest's
    * contract): rows for vanished files are dropped, new files are
    * scanned and added, untouched rows are untouched. Returns
    * (filesAdded, rowsDropped). Same staging + backup publish as the
    * append path. */
  def syncSkipManifest(spark: SparkSession, tableDir: String,
      manifestDir: String, statCols: Seq[String],
      maxDriverRows: Long = MaxManifestDriverRows): (Long, Long) = {
    repairPublished(spark, s"$manifestDir/manifest", "manifest sync")
    val existing = readSkipManifest(spark, manifestDir)
    manifestDriverGuard(existing, "manifest sync", maxDriverRows)
    val known = existing.select("block").collect().map(_.getString(0)).toSet
    val files = listDataFiles(spark, tableDir, maxDriverRows)
    val current = files.map(_._1).toSet
    val freshPaths = files.collect {
      case (rel, abs) if !known.contains(rel) => abs }
    val vanished = known.diff(current)
    if (freshPaths.nonEmpty || vanished.nonEmpty) {
      val keptRows =
        if (vanished.isEmpty) existing
        else existing.filter(!col("block").isin(vanished.toSeq: _*))
      val merged =
        if (freshPaths.isEmpty) keptRows
        else keptRows.unionByName(
          manifestRows(spark, tableDir, freshPaths, statCols))
      publishAtomic(spark, merged, s"$manifestDir/manifest", "manifest sync")
    }
    (freshPaths.size.toLong, vanished.size.toLong)
  }

  // ---- crash-safe publish protocol --------------------------------------

  /** The one crash-safe publish of a whole artifact — a parquet table, a
    * directory tree or a single file. `write` fills `<path>__staging`
    * (cleared first: a crashed previous publish may have left one) and
    * must leave a complete artifact there; then the live artifact moves
    * to `<path>__backup`, staging is renamed in and the backup dropped.
    * A crash between the two renames leaves the last committed version
    * at `__backup`, never no artifact: writers finish the swap with
    * [[repairPublished]], readers serve the backup through
    * [[resolvePublished]] and never rename. Only this object knows the
    * two sibling names.
    *
    * Users: here the full-rewrite upsert, [[compactBuckets]], the skip
    * manifest's build/append/sync, [[exportJsonRecords]] and
    * [[summaryReport]]; the rollup, vocab, bins and maintenance-base
    * artifacts (`ext.Rollup`), the privacy and PII states
    * (`ext.Redaction`), the CMS index (`ext.TextAnalysis`), the pair
    * index (`ext.Dedup`), the corpus release (`ext.CorpusBuild`) and the
    * SCD2 dimension (`operators.Scd2`).
    *
    * The rule for writers: repair BEFORE reading the artifact being
    * replaced. A frame built while the artifact sits at `__backup` reads
    * the backup's files, which the repair then renames away under it.
    * [[republish]] keeps that order for every read-modify-publish. */
  private[graft] def publishAtomicWith(spark: SparkSession, path: String,
      what: String)(write: String => Unit): Unit = {
    val target = new Path(path)
    val staging = new Path(path + StagingSuffix)
    val backup = new Path(path + BackupSuffix)
    val fs = fileSystem(spark, path)
    if (fs.exists(staging)) fs.delete(staging, true)
    write(staging.toString)
    if (fs.exists(backup)) fs.delete(backup, true)
    if (fs.exists(target) && !fs.rename(target, backup))
      sys.error(s"$what: could not move $target aside")
    if (!fs.rename(staging, target)) {
      if (fs.exists(backup)) fs.rename(backup, target)
      sys.error(s"$what: could not publish $staging over $target")
    }
    fs.delete(backup, true)
  }

  private final val StagingSuffix = "__staging"
  private final val BackupSuffix = "__backup"

  /** [[publishAtomicWith]] of a frame as a parquet table. */
  private[graft] def publishAtomic(spark: SparkSession, df: DataFrame,
      path: String, what: String): Unit =
    publishAtomicWith(spark, path, what)(
      df.write.mode(SaveMode.Overwrite).parquet(_))

  /** A writer's update of a published parquet artifact: repair a crashed
    * previous swap, THEN evaluate `next` (which may read the live
    * artifact or run checks against it), then publish it. A rebuild that
    * fails in its write job leaves the previous version in place — a
    * plain Overwrite would have deleted it before the job ran. */
  private[graft] def republish(spark: SparkSession, path: String,
      what: String)(next: => DataFrame): Unit = {
    repairPublished(spark, path, what)
    publishAtomic(spark, next, path, what)
  }

  /** WRITER half of the crash protocol (single writer by contract): if
    * the target is absent but a backup exists, a crash interrupted the
    * previous publish between its two renames — finish it before
    * operating; a failed rename fails loudly. ONLY writers may do this
    * rename: a reader cannot tell a crashed swap from one that is
    * mid-flight, and a "repair" fired inside a live publish window steals
    * the writer's backup, failing both the publish and its rollback. */
  private[graft] def repairPublished(spark: SparkSession, path: String,
      what: String): Unit = {
    val target = new Path(path)
    val backup = new Path(path + BackupSuffix)
    val fs = fileSystem(spark, path)
    if (!fs.exists(target) && fs.exists(backup) && !fs.rename(backup, target))
      sys.error(s"$what: could not recover $backup")
  }

  /** The last committed version of a published artifact, renaming
    * nothing: the target if it exists, else the backup a swap crashed
    * between its renames left, else None. */
  private[graft] def resolvePublished(spark: SparkSession,
      path: String): Option[String] = {
    val fs = fileSystem(spark, path)
    Seq(path, path + BackupSuffix).find(p => fs.exists(new Path(p)))
  }

  /** CONSUMER read of a published parquet artifact — never renames (see
    * [[repairPublished]]). Plain parquet has no snapshot isolation: a
    * read racing a live publish can still observe FileNotFound at
    * materialization time — the maintained-artifact consumer path
    * retries its whole snapshot on that failure
    * ([[graft.ext.Rollup.readMaintained]]); what THIS primitive
    * guarantees is that readers never corrupt the writer's protocol. */
  private[graft] def readRecoverableReadOnly(spark: SparkSession,
      path: String, what: String): DataFrame =
    spark.read.parquet(resolvePublished(spark, path).getOrElse(
      sys.error(s"$what: nothing published at $path")))

  /** Tiny text file write/read — layout markers, the summary report, the
    * release card, build metadata such as q145's `_MAXID`. */
  private[graft] def writeSmall(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- batch=-partitioned maintained-artifact commit protocol ----------
  // Shared by the maintained pair index (graft.ext.Dedup), the IVF index
  // (graft.ext.Similarity) and the media-hash index
  // (graft.ext.Multimodal): an append lands as ONE new `batch=<token>`
  // partition whose token derives deterministically from the batch's
  // CONTENT, so publish IO is O(batch) (no pre-existing file is ever
  // rewritten) and an at-least-once replay overwrites its own partition
  // instead of double-inserting.

  /** Deterministic content-derived batch token: a replayed batch (same
    * rows) lands on the SAME `batch=` partition and overwrites itself —
    * the idempotency a bare `mode("append")` cannot give an
    * at-least-once maintenance loop. One bounded 1-row aggregate; the
    * summed per-row hash is folded into [0, 1e9) first so the sum stays
    * far from Long overflow (ANSI mode errors rather than wraps) up to
    * ~9e9 rows per batch. */
  private[graft] def batchToken(df: DataFrame, idCol: String): String = {
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(col(idCol)),
        lit(1000000007L))), min(col(idCol)), max(col(idCol))).collect()(0)
    graft.ext.CorpusCache.md5Hex(
      s"${r.get(0)}_${r.get(1)}_${r.get(2)}_${r.get(3)}").take(16)
  }

  /** Commit one batch's rows into a `batch=`-partitioned maintained
    * tree: write to a `_staging_<token>` dir INSIDE the table (hidden —
    * Spark's file listing skips `_`/`.`-prefixed paths, so no reader can
    * observe a half-written batch), then one atomic rename to
    * `batch=<token>`. A replay finding its own token already published
    * swaps it aside first, so the any-moment reader view is old-batch or
    * new-batch, never partial. `partitionCols` nest further partition
    * dirs INSIDE the batch dir (the IVF index's `cell_id`), keeping
    * partition pruning on those columns across batches. Publish IO is
    * exactly the batch's own files; nothing else in the tree is opened,
    * rewritten, or moved. */
  private[graft] def commitBatchPartition(spark: SparkSession,
      table: String, token: String, df: DataFrame,
      partitionCols: Seq[String] = Nil): Unit = {
    val fs = new Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(s"$table/_staging_$token")
    val dest = new Path(s"$table/batch=$token")
    val replaced = new Path(s"$table/_replaced_$token")
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staging.toString)
    if (fs.exists(replaced)) fs.delete(replaced, true)
    if (fs.exists(dest) && !fs.rename(dest, replaced))
      sys.error(s"batch commit: could not move $dest aside")
    if (!fs.rename(staging, dest))
      sys.error(s"batch commit: could not publish $staging")
    fs.delete(replaced, true)
    ()
  }

  /** Writer-side sweep of dead maintenance leftovers (`_staging_*` /
    * `_replaced_*`) under a maintained tree — single-writer contract:
    * anything hidden present at op start belongs to a crashed op. */
  private[graft] def sweepBatchLeftovers(spark: SparkSession,
      table: String): Unit = {
    val p = new Path(table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_staging_") || n.startsWith("_replaced_"))
        fs.delete(st.getPath, true)
    }
  }

  /** Read a published skip manifest. Read-only: a crashed append swap
    * (target absent, `__backup` present) is served from the backup;
    * the rename repair belongs to the next writer op. */
  def readSkipManifest(spark: SparkSession, manifestDir: String): DataFrame =
    readRecoverableReadOnly(spark, s"$manifestDir/manifest", "manifest read")

  /** Manifest-pruned range scan: keep only the files whose [min, max]
    * box on `colName` overlaps [lo, hi], read THOSE paths, and apply the
    * row-level filter on top (the manifest prunes files, the pushed
    * predicate prunes row groups and rows within survivors — both layers
    * stay on). The kept-file list is a driver-side collect of manifest
    * rows — bounded by file count, the partition-pruning class of
    * metadata. An empty kept list returns an empty frame with the
    * table's schema. StoreSpec asserts the result ≡ the unpruned filter
    * and that `inputFiles` shrinks to exactly the overlapping files. */
  def skipPrunedScan(spark: SparkSession, tableDir: String,
      manifestDir: String, colName: String, lo: Long, hi: Long,
      maxDriverRows: Long = MaxManifestDriverRows): DataFrame = {
    // the guard counts SURVIVORS, not the whole manifest: the filter on
    // the [min,max] boxes runs distributed; only the kept-path list
    // must fit the driver (it becomes the scan's file list either way)
    val survivors = readSkipManifest(spark, manifestDir)
      .filter(col(s"max_$colName") >= lo && col(s"min_$colName") <= hi)
    manifestDriverGuard(survivors, "skipPrunedScan", maxDriverRows)
    val kept = survivors
      .select("block").collect().map(_.getString(0))
    val pred = col(colName) >= lo && col(colName) <= hi
    // blocks are table-relative paths; basePath keeps partition-directory
    // columns visible when reading the kept leaf files directly
    if (kept.isEmpty) spark.read.parquet(tableDir).filter(lit(false))
    else spark.read.option("basePath", tableDir)
      .parquet(kept.map(f => s"$tableDir/$f").toSeq: _*)
      .filter(pred)
  }

  /** File exports S11-S13 (`storage.py:392-442`). */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  def exportJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)
  def exportParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Records-ARRAY JSON export (`storage.py:429-432`,
    * `to_json(orient='records', indent=2)`): one valid-JSON-array file —
    * the report/interchange shape downstream non-Spark consumers parse
    * with a plain `json.load` — where [[exportJson]] writes JSONL parts.
    *
    * Scale shape: serialization stays DISTRIBUTED (the rows render to
    * JSON in executor tasks via the normal JSONL writer); the driver then
    * only STREAMS the part bytes line-at-a-time into the single artifact
    * — O(1) driver memory, never a `collect()`. A single output file is
    * inherent to the format (it is one JSON document), so this is for
    * report-class artifacts; corpus-scale exports stay on
    * [[exportJson]]/[[exportParquet]]. Part files are concatenated in
    * sorted name order, so a sorted single-partition input yields a
    * deterministic artifact. Published through [[publishAtomicWith]]:
    * a crash at any point leaves either the previous artifact (possibly
    * at its backup) or the new one, never neither. */
  def exportJsonRecords(df: DataFrame, path: String): Unit = {
    import java.nio.charset.StandardCharsets.UTF_8
    val spark = df.sparkSession
    val fs = fileSystem(spark, path)
    val tmpDir = new Path(path + ".parts")
    df.write.mode(SaveMode.Overwrite).json(tmpDir.toString)
    val parts = fs.listStatus(tmpDir).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    try publishAtomicWith(spark, path, "json records export") { staging =>
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(fs.create(new Path(staging), true), UTF_8))
      try {
        w.write("[")
        var first = true
        parts.foreach { p =>
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(fs.open(p), UTF_8))
          try {
            var line = in.readLine()
            while (line != null) {
              if (line.nonEmpty) {
                if (!first) w.write(",")
                w.write("\n  ")
                w.write(line)
                first = false
              }
              line = in.readLine()
            }
          } finally in.close()
        }
        w.write("\n]\n")
      } finally w.close()
    } finally fs.delete(tmpDir, true)
  }

  /** Summary-report artifact (`create_summary_report`,
    * `storage.py:471-553`): one JSON file combining record/field totals,
    * per-column dtypes and missing counts, numeric summary statistics
    * (count/mean/std/min/max/median — std is sample stddev like pandas),
    * categorical unique+top-10 value counts, and the business-intelligence
    * section (segment/brand distributions, revenue summary) when those
    * columns exist.
    *
    * Scale shape: ONE wide aggregate covers totals, null counts, numeric
    * stats and distinct counts (single pass, map-side partial combine);
    * ALL categorical top-10s share one explode → groupBy → per-field
    * window (one shuffle total, WindowGroupLimit-prunable), instead of a
    * value_counts pass per column like the reference. Exact `percentile`
    * buffers per-task like q18 — at 100 TB swap `percentile` →
    * `percentile_approx` and `countDistinct` → `approx_count_distinct`
    * (the q47 pairing); the report's shape doesn't change. The collected
    * frames are the 1-row aggregate and ≤ 10×|string cols| top-k rows —
    * metadata-scale, so driver-side JSON assembly is correct here.
    *
    * Returns the JSON text; `path` (if set) also gets it published
    * through [[publishAtomicWith]]. Key order follows the
    * reference's report layout. Deterministic given `generatedAt`. */
  def summaryReport(spark: SparkSession, df: DataFrame,
      path: Option[String] = None,
      generatedAt: String = java.time.Instant.now().toString): String = {
    import org.apache.spark.sql.types._
    require(df.schema.nonEmpty, "No data provided for summary report")
    val numericCols = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq
    val stringCols = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name }.toSeq
    val allCols = df.columns.toSeq

    val aggs =
      Seq(count(lit(1)).as("__n")) ++
        allCols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls")) ++
        numericCols.flatMap(c => Seq(
          count(col(c)).as(s"${c}__cnt"),
          avg(col(c).cast("double")).as(s"${c}__mean"),
          stddev_samp(col(c).cast("double")).as(s"${c}__std"),
          min(col(c).cast("double")).as(s"${c}__min"),
          max(col(c).cast("double")).as(s"${c}__max"),
          sum(col(c).cast("double")).as(s"${c}__sum"),
          expr(s"percentile($c, 0.5)").as(s"${c}__median"))) ++
        stringCols.map(c => countDistinct(col(c)).as(s"${c}__nd"))
    val head = df.agg(aggs.head, aggs.tail: _*).collect().head
    val total = head.getAs[Long]("__n")
    require(total > 0, "No data provided for summary report")

    // every categorical column's top-10 in ONE shuffle
    val topk: Map[String, Seq[(String, Long)]] =
      if (stringCols.isEmpty) Map.empty
      else {
        val pairs = df.select(explode(array(stringCols.map(c =>
          struct(lit(c).as("field"), col(c).as("value"))): _*)).as("p"))
          .select("p.*").filter(col("value").isNotNull)
          .groupBy("field", "value").agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("field").orderBy(col("cnt").desc, col("value"))
        pairs.withColumn("__rnk", row_number().over(w))
          .filter(col("__rnk") <= 10)
          .collect()
          .groupBy(_.getAs[String]("field"))
          .view.mapValues(_.sortBy(_.getAs[Int]("__rnk"))
            .map(r => r.getAs[String]("value") -> r.getAs[Long]("cnt")).toSeq)
          .toMap
      }

    def numStats(c: String): Seq[(String, Any)] = Seq(
      "count" -> head.getAs[Long](s"${c}__cnt"),
      "mean" -> head.getAs[java.lang.Double](s"${c}__mean"),
      "std" -> head.getAs[java.lang.Double](s"${c}__std"),
      "min" -> head.getAs[java.lang.Double](s"${c}__min"),
      "max" -> head.getAs[java.lang.Double](s"${c}__max"),
      "median" -> head.getAs[java.lang.Double](s"${c}__median"))
    def catStats(c: String): Seq[(String, Any)] = Seq(
      "unique_values" -> head.getAs[Long](s"${c}__nd"),
      "most_common" -> topk.getOrElse(c, Nil).map { case (v, n) => v -> n })

    val bi = Seq.newBuilder[(String, Any)]
    if (allCols.contains("customer_segment"))
      bi += "customer_segments" -> topk.getOrElse("customer_segment", Nil)
        .map { case (v, n) => v -> n }
    if (allCols.contains("product_brand"))
      bi += "product_brands" -> topk.getOrElse("product_brand", Nil)
        .map { case (v, n) => v -> n }
    if (numericCols.contains("total_amount"))
      bi += "revenue_summary" -> Seq[(String, Any)](
        "total_revenue" -> head.getAs[java.lang.Double]("total_amount__sum"),
        "average_order_value" -> head.getAs[java.lang.Double]("total_amount__mean"),
        "highest_order" -> head.getAs[java.lang.Double]("total_amount__max"),
        "lowest_order" -> head.getAs[java.lang.Double]("total_amount__min"))

    val report: Seq[(String, Any)] = Seq(
      "report_generated_at" -> generatedAt,
      "total_records" -> total,
      "total_fields" -> allCols.size,
      "data_types" -> df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString),
      "missing_values" -> allCols.map(c => c -> head.getAs[Long](s"${c}__nulls")),
      "summary_statistics" ->
        (numericCols.map(c => c -> numStats(c)) ++ stringCols.map(c => c -> catStats(c)))
    ) ++ (if (allCols.contains("customer_segment") || allCols.contains("product_brand") ||
        numericCols.contains("total_amount")) Seq("business_intelligence" -> bi.result())
      else Nil)

    val json = Json.render(report)
    path.foreach(p => publishAtomicWith(spark, p, "summary report")(st =>
      writeSmall(fileSystem(spark, p), new Path(st), json)))
    json
  }

  /** S8 retrieval: `SELECT * ORDER BY col DESC LIMIT n` — planned by
    * Catalyst as TakeOrderedAndProject (per-partition top-k). */
  def getOrders(spark: SparkSession, tablePath: String, limit: Int,
      orderBy: String = "ingested_at"): DataFrame =
    // drop is a no-op on plain tables; on incremental ones it keeps the
    // internal layout column out of S8 results
    spark.read.parquet(tablePath).drop("__bucket")
      .orderBy(col(orderBy).desc).limit(limit)

  /** S14 stats probe over a stored orders table. */
  def tableStats(spark: SparkSession, tablePath: String): DataFrame = {
    val df = spark.read.parquet(tablePath).drop("__bucket")
    df.agg(
      count(lit(1)).as("row_count"),
      countDistinct(col("order_id")).as("distinct_orders"),
      max(col("ingested_at")).as("latest_ingest"))
  }
}

/** Minimal JSON renderer for the summary report — `Seq[(String, Any)]`
  * renders as an object (insertion order preserved, which is what keeps
  * the report layout stable), other `Seq`s as arrays, scalars as JSON
  * scalars (NaN/Inf → null, like `json.dump(default=str)` never emits
  * them). Report-sized payloads only; the data plane never goes through
  * here. */
private[pipeline] object Json {
  def render(v: Any, indent: Int = 0): String = {
    val pad = "  " * indent
    val padIn = "  " * (indent + 1)
    v match {
      case null => "null"
      case s: String => quote(s)
      case b: Boolean => b.toString
      case d: java.lang.Double =>
        if (d.isNaN || d.isInfinite) "null" else d.toString
      case f: java.lang.Float => render(f.doubleValue, indent)
      case n: Number => n.toString
      case xs: Seq[_] if xs.nonEmpty && xs.forall {
          case (_: String, _) => true; case _ => false } =>
        xs.asInstanceOf[Seq[(String, Any)]]
          .map { case (k, x) => s"$padIn${quote(k)}: ${render(x, indent + 1)}" }
          .mkString("{\n", ",\n", s"\n$pad}")
      case xs: Seq[_] if xs.isEmpty => "{}" // all empty collections in the report are dicts
      case xs: Seq[_] =>
        xs.map(x => padIn + render(x, indent + 1)).mkString("[\n", ",\n", s"\n$pad]")
      case other => quote(String.valueOf(other))
    }
  }
  private def quote(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
}
