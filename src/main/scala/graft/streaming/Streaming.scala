package graft.streaming

import graft.pipeline.{Clean, Enrich, Standardize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming re-design of the reference's batch-glob directory
  * "monitoring" (`src/ingestion.py:213-345`; SURVEY.md §2.8):
  *
  *  - the file source replaces the glob loop, with `cleanSource=archive`
  *    standing in for the processed/-directory moves
  *    (`src/ingestion.py:243-252`);
  *  - `foreachBatch` runs the same clean→enrich→standardize stages per
  *    micro-batch — one code path for batch and stream;
  *  - dedup-by-order_id across batches becomes a watermarked
  *    `dropDuplicates` (bounded state — an unbounded key set at 100 TB/day
  *    would OOM the state store);
  *  - quality-metrics-over-time (`src/storage.py:301-331`) becomes a
  *    watermarked tumbling-window aggregation over event time.
  */
object Streaming {

  /** Directory-watch CSV source with archive semantics (S6). */
  def csvFileSource(spark: SparkSession, inDir: String, schema: StructType,
      archiveDir: Option[String] = None): DataFrame = {
    val base = spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", "1")
    val withArchive = archiveDir.fold(base) { dir =>
      base.option("cleanSource", "archive").option("sourceArchiveDir", dir)
    }
    withArchive.csv(inDir)
      .withColumn("source", lit("file_csv"))
      .withColumn("source_file", input_file_name())
  }

  /** Parquet file source (used to replay the `events` table as a stream).
    *
    * Timestamp columns are read as session-local TIMESTAMP even when the
    * parquet file stores them naive (isAdjustedToUTC=false, which Spark 4
    * infers as TIMESTAMP_NTZ): `withWatermark` only accepts TIMESTAMP, so
    * an NTZ event-time column would reject every watermarked plan downstream
    * ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]). Requesting TimestampType in
    * the read schema is exactly the pre-NTZ read path — with the session
    * pinned to UTC the wall-clock values are unchanged, so batch twins
    * differ only in type, not value. */
  def parquetFileSource(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val ltz = StructType(schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        f.copy(dataType = org.apache.spark.sql.types.TimestampType)
      else f
    })
    spark.readStream.schema(ltz)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
  }

  /** Bounded-state keyed dedup: keep the first-seen order_id within the
    * watermark horizon (replaces the SQLite UNIQUE upsert,
    * `src/storage.py:170-196`, for the streaming plane).
    * `dropDuplicatesWithinWatermark` keys state on order_id ALONE — a
    * retried ingest usually re-stamps `ingested_at`, and including the
    * event-time column in the dedup key would wave those duplicates
    * through. */
  def watermarkedDedup(orders: DataFrame, eventTimeCol: String = "ingested_at",
      horizon: String = "1 hour"): DataFrame =
    orders
      .withWatermark(eventTimeCol, horizon)
      .dropDuplicatesWithinWatermark("order_id")

  /** The full transform pipeline applied per micro-batch, written to a
    * parquet orders table. Each batch OVERWRITES its own batch-id
    * partition rather than appending to the root: foreachBatch is
    * at-least-once, and a batch replayed after a crash between the write
    * and the checkpoint commit must not duplicate its rows. Readers see
    * one table at `outPath` (partition discovery adds a `batch` column). */
  def transformStream(orders: DataFrame, outPath: String, checkpoint: String): StreamingQuery =
    orders.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Standardize(Enrich(Clean(batch)))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()

  /** Continuous keyed upsert: every micro-batch merges into the
    * bucket-partitioned orders store via
    * [[graft.pipeline.Store.upsertOrdersIncremental]] — the streaming
    * form of the reference's poll-and-`INSERT OR REPLACE` loop. Each
    * batch rewrites only the bucket partitions its keys hash into, so
    * state lives in the TABLE (idempotent latest-wins merge), not in the
    * stream: a replayed batch re-merges to the same result, which is what
    * makes at-least-once foreachBatch delivery safe here, and the store
    * stays point-in-time queryable between batches. */
  def upsertStream(orders: DataFrame, tablePath: String, checkpoint: String,
      numBuckets: Int = graft.pipeline.Store.UpsertBuckets): StreamingQuery =
    orders.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.pipeline.Store.upsertOrdersIncremental(
          batch.sparkSession, batch, tablePath, numBuckets = numBuckets)
        ()
      }
      .start()

  /** Streaming corpus admission — the streaming twin of the q71 batch
    * admit: each micro-batch of documents is tested against the CURRENT
    * admitted corpus (exact fingerprint + near-dup shingle probes via
    * [[graft.ext.Dedup.admitBatch]]) and only `admit` decisions append.
    * Dedup state lives beside the corpus TABLE, not in stream state: the
    * corpus keeps a maintained fingerprint/shingle index in a hidden
    * directory inside it ([[graft.ext.CorpusIndex.maintained]]), and a
    * replayed batch finds its own docs already admitted and rejects them
    * as exact duplicates — which is what makes at-least-once foreachBatch
    * delivery idempotent here, the same state-in-the-table rule as
    * [[upsertStream]], and the unbounded-keys answer to
    * `dropDuplicates`' grow-forever stream state (the index scales with
    * the corpus, not with executor memory).
    *
    * Per-batch cost: two directory listings converge the index with the
    * corpus files (a seed corpus written outside the stream, or an
    * append whose index commit crashed, is indexed from text once, in one
    * read); one job collects the batch side (doc_id, fingerprint,
    * shingles — bounded by [[graft.ext.Dedup.MaxAdmitBatchRows]]); the
    * probe scans the index, never the corpus text, with the batch side
    * as broadcast local relations; the admitted rows append as one file
    * whose index partitions are committed from the collected features.
    * What still grows with the corpus is the index scan itself (no
    * prefix filter prunes it). */
  def corpusAdmitStream(docs: DataFrame, corpusPath: String,
      checkpoint: String, minJaccard: Double = 0.5): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val spark = batch0.sparkSession
        // persist: the batch is read by the batch-side collect and again
        // by the admitted append
        val batch = batch0.persist()
        try {
          val index = graft.ext.CorpusIndex.maintained(spark, corpusPath)
          val side = graft.ext.Dedup.admitSide(batch)
          val admitted = graft.ext.Dedup.admitBatch(index, side, minJaccard)
            .filter(col("decision") === "admit").select("doc_id")
            .collect().map(_.getLong(0)).toSet
          if (admitted.nonEmpty)
            graft.ext.CorpusIndex.appendAdmitted(spark, corpusPath,
              batch.filter(col("doc_id").isInCollection(admitted)),
              side.filter(d => admitted(d.docId)))
        } finally { batch.unpersist(); () }
        ()
      }
      .start()

  /** Streaming media admission — q99's dHash workflow as a continuous
    * pipeline: each micro-batch of media rows probes the PERSISTED hash
    * index ([[graft.ext.Multimodal.probeMediaHashIndex]] — 16-byte hash
    * rows, payloads never re-scanned), and a row is rejected when it (a)
    * replays an already-indexed media_id, (b) lands within the hamming
    * budget of any indexed row, or (c) has a smaller-id near neighbor
    * inside its own batch (greedy keep-first, the [[corpusAdmitStream]]
    * batch-internal rule). Admitted rows append to `mediaPath` and their
    * hashes to the index — like corpusAdmitStream's maintained corpus
    * index, the dedup state here IS a materialized index: per-batch cost
    * O(batch + hash-index scan). The difference is where the index lives
    * and what keeps it: here a separate `indexPath` appended by the
    * stream only, there a hidden directory inside the corpus converged
    * with the corpus files on every batch. Replay idempotency: a
    * re-delivered batch hits rule (a) on its own admitted rows — nothing
    * appends twice. */
  def mediaAdmitStream(media: DataFrame, mediaPath: String, indexPath: String,
      checkpoint: String,
      maxHamming: Int = graft.ext.Multimodal.DhashMaxHamming): StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        val spark = batch0.sparkSession
        // persist: the batch feeds FOUR hash-bearing consumers (internal
        // near-dup, replay probe, index probe, the admitted write+append)
        // — unpersisted, each re-reads the source and re-runs the dHash
        // expressions (round 14; the maintainStream loop already does
        // this)
        val batch = batch0.persist()
        try {
          val fs = org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration)
          val internal = graft.ext.Multimodal.mediaNearDup(batch, maxHamming)
            .filter(col("near_min_id") < col("media_id"))
            .select("media_id")
          val dropIds =
            if (fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/hashes"))) {
              val replayed = batch.select("media_id").join(
                spark.read.parquet(s"$indexPath/hashes").select("media_id"),
                "media_id")
              val near = graft.ext.Multimodal
                .probeMediaHashIndex(spark, indexPath, batch, maxHamming)
                .select(col("batch_id").as("media_id"))
              internal.unionByName(replayed).unionByName(near)
            } else internal
          // persist: the admitted frame is consumed TWICE (table append +
          // hash-index append) — unpersisted, the whole drop-id join chain
          // including both hash passes ran once per consumer
          val admitted = batch
            .join(dropIds.distinct(), Seq("media_id"), "left_anti").persist()
          try {
            admitted.write.mode("append").parquet(mediaPath)
            graft.ext.Multimodal.appendToMediaHashIndex(spark, indexPath, admitted)
          } finally { admitted.unpersist(); () }
        } finally { batch.unpersist(); () }
        ()
      }
      .start()

  /** Watermarked tumbling-window event metrics (streaming twin of
    * q35_events_window). */
  def windowedEventMetrics(events: DataFrame, horizon: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Functions.moneySum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Key + time-interval join, usable on batch AND streaming frames: each
    * left (view) row matches right (click) rows of the same user with
    * `click_ts ∈ [view_ts, view_ts + within]`. For streams, watermark both
    * inputs first — the range condition is exactly what lets Spark bound
    * the join state (left rows expire once the right watermark passes
    * `view_ts + within`); without it a stream-stream join holds every row
    * forever. Batch callers get an ordinary range join and the DuckDB
    * oracle (q48). */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
      within: String = "30 minutes"): DataFrame = {
    val v = views.select(col("user_id"), col("event_id").as("view_id"),
      col("ts").as("view_ts"))
    val c = clicks.select(col("user_id").as("click_user_id"),
      col("event_id").as("click_id"), col("ts").as("click_ts"))
    v.join(c,
        col("user_id") === col("click_user_id") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"INTERVAL $within"))
      .select("user_id", "view_id", "view_ts", "click_id", "click_ts")
  }

  /** Run a streaming frame to a named in-memory sink until drained
    * (test/debug harness). */
  def drainToMemory(df: DataFrame, name: String, outputMode: String = "append"): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Late-data accounting — the operational gap every watermark in this
    * module opens: rows older than the advanced watermark are dropped
    * SILENTLY by stateful operators (and Spark's
    * `numRowsDroppedByWatermark` metric does not see them — late input
    * is pre-filtered before the state operator; measured on 4.1), so a
    * pipeline that doesn't count them can't tell "clean upstream" from
    * "we discarded an hour of events".
    *
    * This stream makes the accounting EXPLICIT and durable, the
    * state-in-table pattern of [[corpusAdmitStream]]: per micro-batch,
    * rows older than (max event time seen in PRIOR batches − horizon) —
    * the same threshold a downstream watermarked aggregation would drop
    * at — are quarantined to `late/`, on-time rows pass to `ontime/`,
    * and a 1-row ledger entry (batch, input/late counts, the threshold
    * used) lands in `ledger/` — the number to alert on and reconcile
    * against source counts in an end-of-day audit. All four outputs
    * (late/ontime/ledger AND the high-water state) are written to
    * `batch=N` directories with overwrite, and batch N's threshold is
    * derived ONLY from state entries with `batch < N` — so an
    * at-least-once replay of batch N recomputes the identical threshold
    * even though the first attempt already persisted a batch-N entry (a
    * max over ALL state would include it and reclassify rows the first
    * attempt wrote as on-time). Each `state/batch=N` holds the CUMULATIVE
    * high-water mark as of the end of batch N, so the read is one dir
    * listing plus ONE 1-row parquet regardless of stream age, and every
    * prior entry except the newest is dead state and pruned — the state
    * dir never exceeds two entries. A legacy flat (pre-batch-keyed)
    * state file migrates to `batch=-1` on first touch. Driver-side
    * traffic is two 1-row aggregates per batch — index metadata, never
    * data. */
  def lateAuditStream(events: DataFrame, outDir: String, checkpoint: String,
      horizon: String = "2 hours", eventTimeCol: String = "ts"): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val statePath = s"$outDir/state"
        val stateHadoopPath = new org.apache.hadoop.fs.Path(statePath)
        // Resolve the filesystem FROM the path (not FileSystem.get's
        // default) so a non-default scheme on outDir checks the same
        // filesystem the reads/writes hit.
        val fs = stateHadoopPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        if (fs.exists(stateHadoopPath)) {
          // legacy single-file layout: flat part files under state/ would
          // break partition discovery once batch=N dirs appear — move
          // them under batch=-1 (always a prior batch)
          val flat = fs.listStatus(stateHadoopPath).filter(s => s.isFile &&
            !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
          if (flat.nonEmpty) {
            val legacy = new org.apache.hadoop.fs.Path(stateHadoopPath, "batch=-1")
            fs.mkdirs(legacy)
            flat.foreach(s => fs.rename(s.getPath,
              new org.apache.hadoop.fs.Path(legacy, s.getPath.getName)))
          }
        }
        val priorBatches: Seq[Long] =
          if (!fs.exists(stateHadoopPath)) Nil
          else fs.listStatus(stateHadoopPath).toSeq
            .filter(_.isDirectory).map(_.getPath.getName)
            .filter(_.startsWith("batch="))
            .map(_.stripPrefix("batch=").toLong)
            .filter(_ < batchId)
        val newestPrior = priorBatches.sorted.lastOption
        // max over ALL prior entries, not just the newest: pruning bounds
        // the dir to ≤3 entries so this stays O(1), and it is robust to a
        // history whose older entries are not cumulative (partition
        // pruning on `batch` skips the current batch's own entry)
        val saved: Option[java.sql.Timestamp] =
          if (priorBatches.isEmpty) None
          else Option(spark.read.parquet(statePath)
            .filter(col("batch") < batchId)
            .agg(max(col("max_ts"))).head().getTimestamp(0))
        // let the engine parse the horizon: threshold = saved − INTERVAL
        val threshold = saved.map { t =>
          spark.range(1)
            .select((lit(t) - expr(s"INTERVAL $horizon")).cast("timestamp"))
            .head().getTimestamp(0)
        }
        val b = batch.persist()
        try {
          val isLate = threshold
            .map(t => col(eventTimeCol) < lit(t)).getOrElse(lit(false))
          b.filter(isLate).write.mode("overwrite")
            .parquet(s"$outDir/late/batch=$batchId")
          b.filter(!isLate).write.mode("overwrite")
            .parquet(s"$outDir/ontime/batch=$batchId")
          val counts = b.agg(count(lit(1)).as("n_input"),
            sum(when(isLate, 1L).otherwise(0L)).as("n_late"),
            max(col(eventTimeCol)).as("batch_max")).head()
          import spark.implicits._
          Seq((batchId, counts.getAs[Long]("n_input"),
              counts.getAs[Long]("n_late"), threshold.orNull))
            .toDF("batch", "n_input", "n_late", "threshold_used")
            .write.mode("overwrite").parquet(s"$outDir/ledger/batch=$batchId")
          // `batch=N` holds the CUMULATIVE mark through batch N —
          // overwrite-on-replay is a true no-op and the newest-prior read
          // above stays stable; then prune everything older than the
          // newest prior entry (a replay of the CURRENT batch is the only
          // reader that can still need it)
          // compareTo, not getTime: Timestamp carries nanoseconds and a
          // millisecond-precision max could regress the cumulative mark
          val cum = (saved.toSeq ++
            Option(counts.getAs[java.sql.Timestamp]("batch_max")).toSeq)
            .reduceOption((a, b) => if (a.compareTo(b) >= 0) a else b)
          cum.foreach { m =>
            Seq(m).toDF("max_ts")
              .write.mode("overwrite").parquet(s"$statePath/batch=$batchId")
          }
          priorBatches.filter(b => !newestPrior.contains(b)).foreach { b =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$statePath/batch=$b"), true)
            ()
          }
        } finally { b.unpersist(); () }
      }
      .start()
}
