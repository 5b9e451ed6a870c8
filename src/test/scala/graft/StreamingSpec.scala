package graft

import graft.streaming.Streaming
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class StreamingSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val ordersCsvSchema = StructType(Seq(
    StructField("order_id", StringType), StructField("customer_name", StringType),
    StructField("customer_email", StringType), StructField("product", StringType),
    StructField("quantity", DoubleType), StructField("price", DoubleType),
    StructField("order_date", StringType), StructField("ingested_at", StringType)))

  test("file-source stream + foreachBatch runs the full transform per micro-batch") {
    val in = tmpDir("stream_in")
    val out = tmpDir("stream_out") + "/orders"
    val ckpt = tmpDir("stream_ckpt")
    Files.writeString(Paths.get(in, "batch1.csv"),
      """order_id,customer_name,customer_email,product,quantity,price,order_date,ingested_at
        |API-0001,john doe,JOHN@EXAMPLE.COM,iPhone 15,1,999.99,2024-01-15,2024-01-20 10:00:00
        |API-0002,jane smith,jane@example.com,MacBook Pro,1,1999.99,2024-01-16,2024-01-20 10:00:00""".stripMargin)
    Files.writeString(Paths.get(in, "batch2.csv"),
      """order_id,customer_name,customer_email,product,quantity,price,order_date,ingested_at
        |API-0003,bob wilson,bob@example.com,AirPods Pro,2,249.99,2024-01-17,2024-01-21 10:00:00""".stripMargin)

    val stream = Streaming.csvFileSource(spark, in, ordersCsvSchema)
    val q = Streaming.transformStream(stream, out, ckpt)
    q.awaitTermination()

    val result = spark.read.parquet(out)
    assert(result.count() == 3)
    assert(result.columns.contains("customer_segment"))
    assert(result.columns.contains("risk_score"))
    val john = result.filter(col("order_id") === "API-0001").collect().head
    assert(john.getAs[String]("customer_name") == "John Doe")
    assert(john.getAs[String]("product_brand") == "Apple")
  }

  test("streaming upsert: micro-batches merge latest-wins into the bucketed store") {
    val in = tmpDir("upsert_in")
    val table = tmpDir("upsert_tbl") + "/orders"
    val ckpt = tmpDir("upsert_ckpt")
    Files.writeString(Paths.get(in, "batch1.csv"),
      """order_id,customer_name,customer_email,product,quantity,price,order_date,ingested_at
        |API-0001,john doe,j@example.com,iPhone 15,1,999.99,2024-01-15,2024-01-20 10:00:00
        |API-0002,jane smith,jane@example.com,MacBook Pro,1,1999.99,2024-01-16,2024-01-20 10:00:00""".stripMargin)
    val stream1 = Streaming.csvFileSource(spark, in, ordersCsvSchema)
      .withColumn("ingested_at", col("ingested_at").cast("timestamp"))
    Streaming.upsertStream(stream1, table, ckpt, numBuckets = 8).awaitTermination()
    assert(graft.pipeline.Store.readOrdersIncremental(spark, table).count() == 2)
    // a later file updates one key and adds another; the replayed source
    // (same checkpoint) merges rather than duplicates
    Files.writeString(Paths.get(in, "batch2.csv"),
      """order_id,customer_name,customer_email,product,quantity,price,order_date,ingested_at
        |API-0001,john doe,j@example.com,iPhone 15,1,899.99,2024-01-15,2024-01-21 10:00:00
        |API-0003,bob wilson,bob@example.com,AirPods Pro,2,249.99,2024-01-17,2024-01-21 10:00:00""".stripMargin)
    val stream2 = Streaming.csvFileSource(spark, in, ordersCsvSchema)
      .withColumn("ingested_at", col("ingested_at").cast("timestamp"))
    Streaming.upsertStream(stream2, table, ckpt, numBuckets = 8).awaitTermination()
    val rows = graft.pipeline.Store.readOrdersIncremental(spark, table)
      .orderBy("order_id").collect()
    assert(rows.map(_.getAs[String]("order_id")).toSeq ==
      Seq("API-0001", "API-0002", "API-0003"))
    assert(rows.head.getAs[Double]("price") == 899.99, "newer batch must win")
  }

  test("streaming corpus admission: dedup state lives in the table, replay idempotent") {
    val in = tmpDir("admit_in")
    val corpus = tmpDir("admit_corpus") + "/corpus"
    val ckpt = tmpDir("admit_ckpt")
    val docsCsvSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def stream() = Streaming.csvFileSource(spark, in, docsCsvSchema)
    // batch 1: docs 1/2 are identical (in-batch keep-first → 1 wins)
    Files.writeString(Paths.get(in, "b1.csv"),
      """doc_id,text
        |1,alpha beta gamma delta
        |2,alpha beta gamma delta
        |3,unrelated text one two""".stripMargin)
    Streaming.corpusAdmitStream(stream(), corpus, ckpt).awaitTermination()
    def ids() = spark.read.parquet(corpus).collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(ids() == Seq(1L, 3L))
    // batch 2 (same checkpoint → only the new file): 4 is an exact copy of
    // an ADMITTED doc, 5 shares 2 of 3 shingles with doc 3 (jaccard 2/3 ≥
    // 0.5 → near-dup reject), 6 is new
    Files.writeString(Paths.get(in, "b2.csv"),
      """doc_id,text
        |4,alpha beta gamma delta
        |5,unrelated text one two five
        |6,completely fresh document here""".stripMargin)
    Streaming.corpusAdmitStream(stream(), corpus, ckpt).awaitTermination()
    assert(ids() == Seq(1L, 3L, 6L))
    // replay safety: a FRESH checkpoint re-delivers every batch (simulating
    // at-least-once redelivery); every doc now collides with the corpus —
    // its own admitted copy — so nothing is appended twice
    Streaming.corpusAdmitStream(stream(), corpus, tmpDir("admit_ckpt2"))
      .awaitTermination()
    assert(ids() == Seq(1L, 3L, 6L), "replayed batches must not re-admit")
  }

  /** A generated admission feed: a seed corpus of 24 eight-word docs
    * and eight batches. Each batch carries fresh docs, an exact copy of a
    * corpus doc, an in-batch copy pair (the copy listed first, under the
    * larger id), a near-duplicate at exactly the 0.5 threshold (6 of 8
    * words kept: 4 common shingles of 8 distinct) and one just below it
    * (5 of 8: 3 of 9), null text (twice in the first batch), docs
    * shorter than a shingle, and, from the second batch on, a replay of
    * two of the previous batch's docs under their own ids. */
  private def admitFeed(): (Seq[(Long, String)], Seq[Seq[(Long, String)]]) = {
    val rnd = new scala.util.Random(91)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(1000000)}")
    val seed = (1L to 24L).map(i => i -> words(8).mkString(" "))
    val pool = scala.collection.mutable.ArrayBuffer(seed.map(_._2): _*)
    var prev = Seq.empty[(Long, String)]
    val batches = (1 to 8).map { b =>
      val base = b * 100L
      def pick() = pool(rnd.nextInt(pool.size)).split(" ").toSeq
      val fresh = (1L to 4L).map(i => (base + i) -> words(8).mkString(" "))
      val copy = words(8).mkString(" ")
      val docs = fresh ++ Seq(
        (base + 5) -> pool(rnd.nextInt(pool.size)),
        (base + 7) -> copy, (base + 6) -> copy,
        (base + 8) -> (pick().take(6) ++ words(2)).mkString(" "),
        (base + 9) -> (pick().take(5) ++ words(3)).mkString(" "),
        (base + 10) -> (null: String),
        (base + 12) -> s"s$b t$b",
        (base + 13) -> "u") ++
        (if (b == 1) Seq((base + 11) -> (null: String)) else Nil) ++
        prev.filter { case (id, _) => id % 100 == 1 || id % 100 == 8 }
      pool ++= fresh.map(_._2)
      prev = docs
      docs
    }
    (seed, batches)
  }

  private val admitSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def docsFrame(rows: Seq[(Long, String)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t) =>
        org.apache.spark.sql.Row(i, t) }, 1), admitSchema)

  /** Seeds `corpus` with the feed's seed docs (two files, written outside
    * the stream). Returns the batches, a stager that adds batch `b` to
    * the input directory as one file, and a drain that runs the
    * admission stream over that directory with a given checkpoint. */
  private def admitFixture(corpus: String)
      : (Seq[Seq[(Long, String)]], Int => Unit, String => Unit) = {
    val (seed, batches) = admitFeed()
    docsFrame(seed).repartition(2).write.parquet(corpus)
    val in = tmpDir("admit_feed")
    val stage = (b: Int) =>
      docsFrame(batches(b)).write.mode("append").parquet(in)
    val drain = (ckpt: String) =>
      Streaming.corpusAdmitStream(
        Streaming.parquetFileSource(spark, in, admitSchema), corpus, ckpt)
        .awaitTermination()
    (batches, stage, drain)
  }

  private def decisionRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "is_exact_dup", "n_neardup", "decision")
      .collect().map(_.toSeq).toSet

  test("corpus admission ≡ the text-derived reference batch by batch; a dropped index partition converges on replay") {
    import graft.ext.{CorpusIndex, Dedup}
    val corpus = tmpDir("admit_diff") + "/corpus"
    val ckpt = tmpDir("admit_diff_ckpt")
    val (batches, stage, drain) = admitFixture(corpus)
    def corpusRows() = spark.read.parquet(corpus).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    batches.indices.foreach { b =>
      val before = corpusRows()
      val batch = docsFrame(batches(b))
      val ref = References.admitBatchText(docsFrame(before), batch, 0.5)
      val want = decisionRows(ref)
      assert(decisionRows(Dedup.admitBatch(
          CorpusIndex.of(docsFrame(before)), batch, 0.5)) == want,
        s"batch $b: the probe over the text-built index diverges")
      // the maintained index exists once the stream has run
      if (b > 0) assert(decisionRows(Dedup.admitBatch(
          CorpusIndex.maintained(spark, corpus), batch, 0.5)) == want,
        s"batch $b: the probe over the maintained index diverges")
      val decided = want.map(r => r(0).asInstanceOf[Long] -> r(3)).toMap
      val base = (b + 1) * 100L
      // the fixture reaches every rule
      assert(decided(base + 6) == "admit" && decided(base + 7) == "reject_exact")
      assert(decided(base + 5) == "reject_exact")
      assert(decided(base + 8) == "reject_neardup" && decided(base + 9) == "admit")
      assert(decided(base + 10) == (if (b == 0) "admit" else "reject_exact"))
      if (b > 0) assert(decided(base - 99) == "reject_exact")
      stage(b); drain(ckpt)
      val added = corpusRows().diff(before)
      assert(added.map(_._1).sorted ==
          decided.collect { case (id, "admit") => id }.toSeq.sorted,
        s"batch $b: the stream admitted other docs than the reference")
    }
    // crash state: the last appended corpus file lost its index
    // partitions (a crash between the corpus append and the index commit)
    val fs = new org.apache.hadoop.fs.Path(corpus)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last = fs.listStatus(new org.apache.hadoop.fs.Path(corpus))
      .filter(_.getPath.getName.startsWith("part-"))
      .maxBy(_.getModificationTime).getPath.getName
    Seq("fingerprints", "shingles").foreach { f =>
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$corpus/${CorpusIndex.Dir}/$f/batch=${CorpusIndex.fileToken(last)}"), true))
    }
    val n = corpusRows().size
    // replay every batch with a fresh checkpoint
    drain(tmpDir("admit_diff_ckpt2"))
    val replayed = corpusRows().size
    assert(replayed == n, "replayed batches must not re-admit")
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val kept = CorpusIndex.maintained(spark, corpus)
    val rebuilt = CorpusIndex.of(spark.read.parquet(corpus))
    assert(multiset(kept.fingerprints) == multiset(rebuilt.fingerprints),
      "maintained fingerprints diverge from a rebuild")
    assert(multiset(kept.shingles) == multiset(rebuilt.shingles),
      "maintained shingles diverge from a rebuild")
  }

  test("corpus admission: while the corpus grows, a warm batch scans no corpus data file and runs at most 10 jobs") {
    import graft.ext.CorpusIndex
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = Executions.nodes(p).flatMap {
      case f: FileSourceScanExec => Seq(f)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case _ => Nil
    }
    val corpus = tmpDir("admit_warm") + "/corpus"
    val ckpt = tmpDir("admit_warm_ckpt")
    val (batches, stage, drain) = admitFixture(corpus)
    val root = new Path(corpus).toUri.getPath
    val fs = new Path(corpus).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles = fs.listStatus(new Path(corpus)).count(_.getPath.getName.startsWith("part-"))
    val perBatch = batches.indices.map { b =>
      stage(b)
      val n0 = nFiles
      val (_, execs, jobs) = Executions.withJobs(spark)(drain(ckpt))
      assert(nFiles == n0 + 1, s"batch $b: the corpus did not grow by one file")
      // through caches too: the seed pass reads the text into one
      val scanned = execs.flatMap(qe => scans(qe.executedPlan))
        .flatMap(_.relation.location.inputFiles.toSeq)
      val corpusText = scanned.filter(f => new Path(f).getParent.toUri.getPath == root)
      if (b == 0) assert(corpusText.nonEmpty,
        "the seed corpus must be indexed from its text by the first batch")
      else {
        assert(scanned.exists(_.contains(s"/${CorpusIndex.Dir}/")),
          s"batch $b: no scan of the index was seen")
        assert(corpusText.isEmpty, s"batch $b scanned corpus data files: $corpusText")
        assert(jobs <= 10, s"batch $b ran $jobs jobs")
      }
      (jobs, scanned.distinct.size)
    }
    info(s"jobs per batch: ${perBatch.map(_._1).mkString(", ")}; " +
      s"files scanned per batch: ${perBatch.map(_._2).mkString(", ")}")
  }

  test("streaming media admission: hash index is the dedup state, replay idempotent") {
    val in = tmpDir("madmit_in")
    val mediaOut = tmpDir("madmit_media") + "/media"
    val idx = tmpDir("madmit_idx")
    val ckpt = tmpDir("madmit_ckpt")
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("kind", StringType),
      StructField("text", StringType)))
    def stream() = Streaming.csvFileSource(spark, in, schema)
      .select(col("media_id"), col("kind"), col("text").cast("binary").as("payload"))
    // distinct gradient structures (pairwise hamming > budget); 2 is an
    // exact copy of 1 (in-batch keep-first -> 1 wins)
    val base = "ab" * 80 + "cdef" * 20
    val distant = "z" * 120 + "qx" * 60
    val third = "mnop" * 30 + "w" * 60 + "st" * 30
    Files.writeString(Paths.get(in, "m1.csv"),
      s"""media_id,kind,text
        |1,image,$base
        |2,image,$base
        |3,image,$distant""".stripMargin)
    Streaming.mediaAdmitStream(stream(), mediaOut, idx, ckpt).awaitTermination()
    def ids() = spark.read.parquet(mediaOut).collect()
      .map(_.getAs[Long]("media_id")).sorted.toSeq
    assert(ids() == Seq(1L, 3L))
    // batch 2: 4 duplicates an ADMITTED payload (near/exact vs the index),
    // 5 is fresh
    Files.writeString(Paths.get(in, "m2.csv"),
      s"""media_id,kind,text
        |4,image,$base
        |5,audio,$third""".stripMargin)
    Streaming.mediaAdmitStream(stream(), mediaOut, idx, ckpt).awaitTermination()
    assert(ids() == Seq(1L, 3L, 5L))
    // the index holds exactly the admitted hashes
    val indexed = spark.read.parquet(s"$idx/hashes").collect()
      .map(_.getAs[Long]("media_id")).sorted.toSeq
    assert(indexed == Seq(1L, 3L, 5L))
    // replay from a fresh checkpoint: every row re-delivers; admitted ids
    // hit the exact-id rule, rejected ones their original near-dup rule
    Streaming.mediaAdmitStream(stream(), mediaOut, idx, tmpDir("madmit_ckpt2"))
      .awaitTermination()
    assert(ids() == Seq(1L, 3L, 5L), "replayed batches must not re-admit")
  }

  test("watermarked dedup drops repeated order_ids inside the horizon") {
    val in = tmpDir("dedup_in")
    // API-0001 arrives three times: an exact duplicate AND a retried
    // ingest with a re-stamped ingested_at — all must collapse to one row
    Files.writeString(Paths.get(in, "a.csv"),
      """order_id,customer_name,customer_email,product,quantity,price,order_date,ingested_at
        |API-0001,a,a@x.com,P1,1,10.0,2024-01-15,2024-01-20 10:00:00
        |API-0001,a,a@x.com,P1,1,10.0,2024-01-15,2024-01-20 10:00:00
        |API-0001,a,a@x.com,P1,1,10.0,2024-01-15,2024-01-20 10:07:00
        |API-0002,b,b@x.com,P2,1,20.0,2024-01-15,2024-01-20 10:05:00""".stripMargin)
    val stream = Streaming.csvFileSource(spark, in, ordersCsvSchema)
      .withColumn("ingested_at", col("ingested_at").cast("timestamp"))
    val deduped = Streaming.watermarkedDedup(stream)
    Streaming.drainToMemory(deduped, "dedup_out")
    val n = spark.sql("SELECT count(DISTINCT order_id) c, count(*) n FROM dedup_out").collect().head
    assert(n.getAs[Long]("n") == 2,
      "duplicates (exact AND re-stamped) must be dropped in-stream")
    assert(n.getAs[Long]("c") == 2)
  }

  test("stream-stream interval join agrees with the batch twin (q48)") {
    val evDir = tmpDir("events_ssj")
    // single time-ordered file: multi-file replay delivers files in
    // mod-time order, and an out-of-order first batch would advance the
    // watermark past later files' rows (see SessionStateSpec)
    Tables.events(spark, sf).orderBy("ts").coalesce(1)
      .write.mode("overwrite").parquet(evDir)
    val schema = spark.read.parquet(evDir).schema
    def side(tpe: String) = Streaming.parquetFileSource(spark, evDir, schema)
      .filter(col("event_type") === tpe)
      .withWatermark("ts", "2 hours")
    Streaming.drainToMemory(
      Streaming.attributionJoin(side("view"), side("click")), "attribution")
    val streamed = spark.sql(
      "SELECT user_id, view_id, view_ts, click_id, click_ts FROM attribution")
    // stream side carries TIMESTAMP (watermark requirement); batch keeps
    // the table's NTZ — same UTC wall clock, cast to align for exceptAll
    val batch = SparkEntry.queries("q48_event_attribution")(spark, sf)
      .withColumn("view_ts", col("view_ts").cast("timestamp"))
      .withColumn("click_ts", col("click_ts").cast("timestamp"))
    assert(streamed.count() == batch.count(),
      "stream-stream join emitted a different match count than batch")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "stream-stream join pairs disagree with the batch interval join")
  }

  test("windowed event metrics: streaming results agree with the batch twin") {
    // replay the events table as a single time-ordered file stream (see
    // the ordering note in the interval-join test above)
    val evDir = tmpDir("events_stream")
    Tables.events(spark, sf).orderBy("ts").coalesce(1)
      .write.mode("overwrite").parquet(evDir)
    val schema = spark.read.parquet(evDir).schema
    val stream = Streaming.parquetFileSource(spark, evDir, schema)
    Streaming.drainToMemory(
      Streaming.windowedEventMetrics(stream), "ev_metrics")
    val streamed = spark.sql(
      "SELECT window_start, event_type, n_events, sum_value FROM ev_metrics")
    val batch = SparkEntry.queries("q35_events_window")(spark, sf)
      .select("window_start", "event_type", "n_events", "sum_value")
      .withColumn("window_start", col("window_start").cast("timestamp"))
    // append mode withholds windows not yet past the watermark; everything
    // emitted must match the batch aggregation exactly
    val emitted = streamed.count()
    assert(emitted > 0, "no windows emitted")
    assert(streamed.exceptAll(batch).count() == 0,
      "streamed windows disagree with batch aggregation")
  }

  test("streaming drift monitor: live bins ≡ batch bins; drift vs frozen reference exact") {
    // the continuous corpus monitor: a frozen release keeps only its
    // (dimension, bin) counts; the live corpus maintains the same counts
    // as a COMPLETE-mode streaming aggregation whose state is bin
    // cardinality — bounded by construction, no watermark needed
    import graft.ext.Snapshot
    val docs = Tables.documents(spark, sf)
    val v2 = Snapshot.nextDocsSnapshot(docs)
    val v2Dir = tmpDir("drift_stream")
    v2.orderBy("doc_id").coalesce(1).write.mode("overwrite").parquet(v2Dir)
    val schema = spark.read.parquet(v2Dir).schema
    val stream = Streaming.parquetFileSource(spark, v2Dir, schema)
    Streaming.drainToMemory(
      Snapshot.corpusBins(stream), "drift_bins", outputMode = "complete")
    val streamedBins = spark.sql(
      "SELECT dimension, bin, count FROM drift_bins")
    val batchBins = Snapshot.corpusBins(v2)
    assert(streamedBins.exceptAll(batchBins).count() == 0 &&
      batchBins.exceptAll(streamedBins).count() == 0,
      "streamed bin counts disagree with batch")
    // drift from the streamed counts against the frozen reference bins
    // must equal the full batch drift query (q103's operator)
    val live = Snapshot.driftFromBins(Snapshot.corpusBins(docs), streamedBins)
    val batch = Snapshot.corpusScoreDrift(docs, v2)
    assert(live.exceptAll(batch).count() == 0 &&
      batch.exceptAll(live).count() == 0,
      "monitor drift disagrees with the batch drift query")
  }

  test("late-data ledger: quarantines watermark-late rows with replay-idempotent accounting") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("late_events")
    def eventsAt(times: Seq[String], startId: Long) = {
      import spark.implicits._
      times.zipWithIndex.map { case (t, i) =>
        (startId + i, java.sql.Timestamp.valueOf(t), 1L, "view", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    }
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val stage = tmpDir("late_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(mtime))
    }
    // file A: on-time rows at noon — batch 0 sets the high-water mark
    writeOne(eventsAt(Seq("2024-06-01 12:00:00", "2024-06-01 12:30:00",
      "2024-06-01 12:45:00"), 1L), "a.parquet", 1000000L)
    // file B (later mod-time → batch 1): rows from midnight, ~12h late
    writeOne(eventsAt(Seq("2024-06-01 00:10:00", "2024-06-01 00:20:00"), 10L),
      "b.parquet", 2000000L)
    val out = tmpDir("late_out")
    val schema = spark.read.parquet(dir).schema
    def run(ckpt: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      Streaming.lateAuditStream(stream, out, ckpt).awaitTermination()
    }
    run(tmpDir("late_ckpt"))
    val ledger = spark.read.parquet(out + "/ledger").orderBy("batch").collect()
    assert(ledger.length == 2, s"expected 2 ledger rows, got ${ledger.length}")
    assert(ledger(0).getAs[Long]("n_late") == 0)
    assert(ledger(1).getAs[Long]("n_input") == 2 &&
      ledger(1).getAs[Long]("n_late") == 2,
      s"midnight rows must be flagged late: ${ledger(1)}")
    // threshold used by batch 1 = 12:45 − 2h
    assert(ledger(1).getAs[java.sql.Timestamp]("threshold_used") ==
      java.sql.Timestamp.valueOf("2024-06-01 10:45:00"))
    // quarantine holds exactly the late rows; on-time rows pass through
    assert(spark.read.parquet(out + "/late").count() == 2)
    assert(spark.read.parquet(out + "/ontime").count() == 3)
    // at-least-once replay (fresh checkpoint, same output) is idempotent:
    // batch=N directories overwrite, and the per-batch state keying means
    // each replayed batch derives its threshold from batches < N only
    run(tmpDir("late_ckpt2"))
    assert(spark.read.parquet(out + "/late").count() == 2)
    assert(spark.read.parquet(out + "/ontime").count() == 3)
    assert(spark.read.parquet(out + "/ledger").count() == 2)
  }

  test("late-data ledger: state stays bounded over many batches and the mark is cumulative") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = tmpDir("late_many_events")
    def writeOne(times: Seq[String], startId: Long, name: String, mtime: Long): Unit = {
      val stage = tmpDir("late_many_stage")
      times.zipWithIndex.map { case (t, i) =>
        (startId + i, java.sql.Timestamp.valueOf(t), 1L, "view", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(mtime))
    }
    // 4 batches; batch 2 is entirely LATE (its max must still not move
    // the mark backwards — cumulative state), batch 3 is gated by the
    // batch-1 mark carried THROUGH batch 2's entry
    writeOne(Seq("2024-06-01 08:00:00"), 1L, "a.parquet", 1000000L)
    writeOne(Seq("2024-06-01 12:00:00"), 2L, "b.parquet", 2000000L)
    writeOne(Seq("2024-06-01 01:00:00"), 3L, "c.parquet", 3000000L)
    writeOne(Seq("2024-06-01 09:30:00"), 4L, "d.parquet", 4000000L)
    val out = tmpDir("late_many_out")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    Streaming.lateAuditStream(stream, out, tmpDir("late_many_ckpt"))
      .awaitTermination()
    val ledger = spark.read.parquet(out + "/ledger").orderBy("batch").collect()
    assert(ledger.length == 4)
    // batch 2 (01:00) late vs 12:00 − 2h; batch 3 (09:30) late vs the SAME
    // 12:00 mark — batch 2's all-late content must not regress it
    assert(ledger(2).getAs[Long]("n_late") == 1, s"${ledger(2)}")
    assert(ledger(3).getAs[Long]("n_late") == 1 &&
      ledger(3).getAs[java.sql.Timestamp]("threshold_used") ==
        java.sql.Timestamp.valueOf("2024-06-01 10:00:00"),
      s"batch 3 must be gated by the carried 12:00 mark: ${ledger(3)}")
    // pruning invariant: dead entries deleted, ≤2 state dirs remain
    val stateDirs = new java.io.File(out, "state").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    assert(stateDirs.length <= 2,
      s"state must stay bounded, got ${stateDirs.toSeq}")
    assert(stateDirs.contains("batch=3"), s"newest entry missing: ${stateDirs.toSeq}")
  }

  test("late-data ledger: legacy flat high-water state migrates to batch=-1 and still gates batch 0") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val out = tmpDir("late_legacy_out")
    // fabricate the pre-batch-keyed layout: a FLAT 1-row max_ts parquet
    // directly under state/ (what the previous version wrote)
    val stage = tmpDir("late_legacy_stage")
    Seq(java.sql.Timestamp.valueOf("2024-06-01 12:45:00")).toDF("max_ts")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val stateDir = new java.io.File(out, "state"); stateDir.mkdirs()
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(stateDir, part.getName).toPath)
    // input: midnight rows — late against the LEGACY mark − 2h
    val dir = tmpDir("late_legacy_events")
    (Seq("2024-06-01 00:10:00", "2024-06-01 00:20:00").zipWithIndex.map {
      case (t, i) => (i.toLong, java.sql.Timestamp.valueOf(t), 1L, "view", 1.0, "{}")
    }).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    Streaming.lateAuditStream(stream, out, tmpDir("late_legacy_ckpt"))
      .awaitTermination()
    val ledger = spark.read.parquet(out + "/ledger").head()
    assert(ledger.getAs[Long]("n_late") == 2 &&
      ledger.getAs[java.sql.Timestamp]("threshold_used") ==
        java.sql.Timestamp.valueOf("2024-06-01 10:45:00"),
      s"legacy mark not honored: $ledger")
    // the flat file moved under batch=-1; batch=0 wrote the new cumulative
    val entries = stateDir.listFiles().map(_.getName).filter(_.startsWith("batch=")).sorted
    assert(entries.contains("batch=-1") && entries.contains("batch=0"),
      s"state layout after migration: ${stateDir.listFiles().map(_.getName).toSeq}")
    assert(!stateDir.listFiles().exists(_.isFile),
      "flat legacy file left behind breaks partition discovery")
  }

  test("late-data ledger: replay of a batch that advanced the high-water mark recomputes the identical threshold") {
    // The sharp replay case: batch 1 contains both the new max event time
    // (23:00) and a row (09:00) that is on-time against the PRIOR mark
    // (10:00 − 2h = 08:00) but late against a mark that includes batch 1's
    // own max (23:00 − 2h = 21:00). A threshold derived from all persisted
    // state would reclassify the 09:00 row on replay; deriving it from
    // state entries with batch < N must keep both attempts identical.
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("late_adv_events")
    def eventsAt(times: Seq[String], startId: Long) = {
      import spark.implicits._
      times.zipWithIndex.map { case (t, i) =>
        (startId + i, java.sql.Timestamp.valueOf(t), 1L, "view", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    }
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val stage = tmpDir("late_adv_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(dir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(mtime))
    }
    writeOne(eventsAt(Seq("2024-06-01 10:00:00"), 1L), "a.parquet", 1000000L)
    writeOne(eventsAt(Seq("2024-06-01 23:00:00", "2024-06-01 09:00:00"), 10L),
      "b.parquet", 2000000L)
    val out = tmpDir("late_adv_out")
    val schema = spark.read.parquet(dir).schema
    def run(ckpt: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      Streaming.lateAuditStream(stream, out, ckpt).awaitTermination()
    }
    def snapshot(): (Long, Long, java.sql.Timestamp) = {
      val ledger1 = spark.read.parquet(out + "/ledger")
        .filter(col("batch") === 1L).head()
      (spark.read.parquet(out + "/late").count(),
        ledger1.getAs[Long]("n_late"),
        ledger1.getAs[java.sql.Timestamp]("threshold_used"))
    }
    run(tmpDir("late_adv_ckpt"))
    val first = snapshot()
    assert(first == ((0L, 0L, java.sql.Timestamp.valueOf("2024-06-01 08:00:00"))),
      s"first attempt misclassified: $first")
    // replay after the state already holds batch 1's 23:00 max
    run(tmpDir("late_adv_ckpt2"))
    val second = snapshot()
    assert(second == first,
      s"replay changed classification: first=$first second=$second")
    assert(spark.read.parquet(out + "/ontime").count() == 3)
  }

  test("native session_window runs on the stream: emitted sessions ⊆ the batch sessions") {
    import graft.queries.Advanced
    import org.apache.spark.sql.functions.col
    val evDir = tmpDir("sw_stream")
    Tables.events(spark, sf).orderBy("ts").coalesce(1)
      .write.mode("overwrite").parquet(evDir)
    val schema = spark.read.parquet(evDir).schema
    val stream = Streaming.parquetFileSource(spark, evDir, schema)
      .withWatermark("ts", "2 hours")
    Streaming.drainToMemory(
      Advanced.sessionWindowStats(stream), "sw_sessions")
    val streamed = spark.sql(
      "SELECT user_id, session_start, n_events, duration_sec FROM sw_sessions")
    val batch = Advanced.sessionWindowStats(Tables.events(spark, sf))
      .withColumn("session_start", col("session_start").cast("timestamp"))
    // append mode withholds sessions the watermark hasn't closed; every
    // emitted session must match a batch session exactly
    assert(streamed.count() > 0, "no sessions emitted")
    assert(streamed.exceptAll(batch).count() == 0,
      "streamed sessions disagree with the batch session_window")
  }

  test("streaming count-min sketch: live d×w state ≡ batch sketch; estimates stay ≥ true") {
    // the frequent-token monitor: the CMS state is depth × width rows —
    // bounded by construction, so it runs as a COMPLETE-mode streaming
    // aggregation with no watermark (same argument as the drift monitor)
    import graft.ext.TextAnalysis
    import org.apache.spark.sql.functions.{col, explode}
    val docs = Tables.documents(spark, sf)
    val docDir = tmpDir("cms_stream")
    docs.orderBy("doc_id").coalesce(1).write.mode("overwrite").parquet(docDir)
    val schema = spark.read.parquet(docDir).schema
    val stream = Streaming.parquetFileSource(spark, docDir, schema)
    Streaming.drainToMemory(
      TextAnalysis.cmsSketch(stream), "cms_live", outputMode = "complete")
    val streamed = spark.sql("SELECT r, b, c FROM cms_live")
    val batch = TextAnalysis.cmsSketch(docs)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed sketch state disagrees with batch")
    // probing the streamed state preserves the count-min guarantee
    val truth = docs.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy("token").count()
    val est = TextAnalysis.cmsEstimate(streamed, truth.select("token"))
    val joined = est.join(truth, "token").collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(
      r.getAs[Long]("cms_est") >= r.getAs[Long]("count"), s"$r"))
    // every query token yields a row — including tokens ABSENT from the
    // corpus (the decontamination probe): a one-token corpus leaves all
    // but one bucket per depth row empty, so an unseen token must come
    // back with the correct Count-Min estimate 0, not be dropped
    import spark.implicits._
    val tiny = TextAnalysis.cmsSketch(
      Seq((1L, "solitarytoken")).toDF("doc_id", "text"))
    val probe = TextAnalysis.cmsEstimate(
      tiny, Seq("zzz_never_in_corpus").toDF("token")).collect()
    assert(probe.length == 1, "unseen token dropped from cmsEstimate output")
    assert(probe.head.getAs[Long]("cms_est") == 0L,
      s"unseen token should estimate 0: ${probe.head}")
  }

  test("streaming median bins: live (group, value) state derives q135's exact medians") {
    // exact-median monitor: medianBins is a complete-mode aggregation
    // whose state is bounded by the value DOMAIN; deriving the median
    // from the live bins must equal the batch two-level rank selection
    import graft.queries.Profiling
    val events = Tables.events(spark, sf)
    val evDir = tmpDir("median_bins_stream")
    events.orderBy("event_id").coalesce(1)
      .write.mode("overwrite").parquet(evDir)
    val schema = spark.read.parquet(evDir).schema
    val stream = Streaming.parquetFileSource(spark, evDir, schema)
    Streaming.drainToMemory(
      Profiling.medianBins(stream), "median_bins", outputMode = "complete")
    val streamedBins = spark.sql("SELECT g, v, cnt FROM median_bins")
    val live = Profiling.medianFromBins(streamedBins)
    val batch = Profiling.groupedExactMedian(events)
    assert(live.count() > 0, "no medians derived from streamed bins")
    assert(live.exceptAll(batch).count() == 0 &&
      batch.exceptAll(live).count() == 0,
      "bins-derived medians disagree with the batch rank selection")
    // the generalized deriver tracks all of q136's quantiles from the
    // same live state
    val liveQ = Profiling.quantilesFromBins(streamedBins)
    val batchQ = Profiling.groupedExactQuantiles(events)
    assert(liveQ.exceptAll(batchQ).count() == 0 &&
      batchQ.exceptAll(liveQ).count() == 0,
      "bins-derived quantiles disagree with the batch rank selection")
  }

  test("streaming distribution tests: live bins state derives q158/q159 exactly") {
    // the KS/MWU bins are the same state-is-the-result class as
    // medianBins: complete-mode aggregation bounded by the value domain,
    // with the full test decision re-derivable after every micro-batch
    import graft.queries.Profiling
    val events = Tables.events(spark, sf)
    val evDir = tmpDir("dist_bins_stream")
    events.orderBy("event_id").coalesce(1)
      .write.mode("overwrite").parquet(evDir)
    val schema = spark.read.parquet(evDir).schema
    val stream = Streaming.parquetFileSource(spark, evDir, schema)
    Streaming.drainToMemory(
      Profiling.distTestBins(stream), "dist_bins", outputMode = "complete")
    val streamedBins = spark.table("dist_bins")
    val liveKs = Profiling.ksFromBins(streamedBins)
    val batchKs = Profiling.ksDrift(events)
    assert(liveKs.count() > 0, "no KS rows derived from streamed bins")
    assert(liveKs.exceptAll(batchKs).count() == 0 &&
      batchKs.exceptAll(liveKs).count() == 0,
      "bins-derived KS disagrees with the batch test")
    val liveU = Profiling.mannWhitneyFromBins(streamedBins)
    val batchU = Profiling.mannWhitney(events)
    assert(liveU.exceptAll(batchU).count() == 0 &&
      batchU.exceptAll(liveU).count() == 0,
      "bins-derived Mann–Whitney disagrees with the batch test")
  }

  test("streaming daily HLL partials: sliding-window estimates equal the batch path") {
    // q157's day sketches are complete-mode streamable; HLL union takes
    // the max per register, so arrival order cannot move a single
    // estimate — stream-derived window answers must EQUAL batch ones
    import graft.queries.Advanced
    val events = Tables.events(spark, sf)
    val evDir = tmpDir("daily_hll_stream")
    events.orderBy("event_id").coalesce(1)
      .write.mode("overwrite").parquet(evDir)
    val schema = spark.read.parquet(evDir).schema
    val stream = Streaming.parquetFileSource(spark, evDir, schema)
    Streaming.drainToMemory(
      Advanced.dailyUserSketches(stream), "daily_hll", outputMode = "complete")
    val live = Advanced.slidingEstimates(spark.table("daily_hll"))
      .withColumnRenamed("__est", "live_est")
    val batch = Advanced.slidingEstimates(
      Advanced.dailyUserSketches(events))
    val joined = live.join(batch, "window_start").collect()
    assert(joined.length == 30, s"expected 30 windows, got ${joined.length}")
    joined.foreach(r => assert(
      r.getAs[Long]("live_est") == r.getAs[Long]("__est"),
      s"stream/batch estimate split at ${r.getAs[java.sql.Date]("window_start")}"))
  }

  test("streaming privacy review: complete-mode pair counts derive q189/q192/q193/q194 exactly after EVERY micro-batch") {
    // the privacy review's shared (QI, sensitive) pair state is the same
    // state-is-the-result class as dailyPartials: a COMPLETE-mode count
    // aggregation bounded by the tuple domain, with all three review
    // cards AND the generalization sweep re-derivable per micro-batch —
    // each batch's derivation must EQUAL the batch operator run over the
    // exact file prefix seen
    import graft.ext.Redaction
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val customers = Tables.customer(spark, sf)
    val inDir = tmpDir("privacy_stream_in")
    val now = System.currentTimeMillis()
    val chunkPaths = (0 until 3).map { i =>
      val staging = tmpDir(s"privacy_stage$i")
      customers.filter(col("c_custkey") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(inDir, s"c$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (3 - i) * 60000L))
      dst.getAbsolutePath
    }
    val schema = spark.read.parquet(inDir).schema
    val seenBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Redaction.privacyPairs(
        Streaming.parquetFileSource(spark, inDir, schema))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", tmpDir("privacy_ck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (state: DataFrame, id: Long) =>
        val s = state.persist()
        try {
          val prefix = s.sparkSession.read
            .parquet(chunkPaths.take(id.toInt + 1): _*)
          def same(live: DataFrame, batch: DataFrame, what: String): Unit =
            assert(live.exceptAll(batch).count() == 0 &&
              batch.exceptAll(live).count() == 0,
              s"batch $id: live $what diverges from the batch operator")
          // the state's base width is 500 (the finest width in q194's
          // chain); every registered consumer derives via the
          // nested-width identity: q189's 5000 band factor 10,
          // q192/q193's 1000 band factor 2, q194's whole sweep
          // factors 1/2/10/20
          same(Redaction.kAnonymityFromPairs(
              Redaction.coarsenPrivacyPairs(s, 10)),
            Redaction.kAnonymityCard(prefix), "q189 k-anonymity")
          same(Redaction.lDiversityFromPairs(
              Redaction.coarsenPrivacyPairs(s, 2)),
            Redaction.lDiversityCard(prefix), "q192 l-diversity")
          same(Redaction.tClosenessFromPairs(
              Redaction.coarsenPrivacyPairs(s, 2)),
            Redaction.tClosenessCard(prefix), "q193 t-closeness")
          same(Redaction.generalizationSweepFromPairs(s),
            Redaction.generalizationSweep(prefix), "q194 sweep")
          seenBatches.incrementAndGet()
          ()
        } finally { s.unpersist(); () }
      }.start()
    q.awaitTermination()
    assert(seenBatches.get() == 3,
      s"expected 3 micro-batches, saw ${seenBatches.get()}")
  }

  test("streaming pii incidence: complete-mode source partials derive the q195 card exactly after EVERY micro-batch") {
    // the detection twin of the privacy-pairs stream: per-source PII
    // counters are a COMPLETE-mode aggregation bounded by the source
    // domain, and the incidence card re-derives from the state per
    // micro-batch — the live "which sources still leak" monitor a
    // redaction rollout watches, with zero corpus rescans
    import graft.ext.Redaction
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    // the q195 injection so every counter is nonzero and moves per batch
    val docs = Tables.documents(spark, sf).select(
      col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 13 === 5,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 17 === 3,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-4242"))).otherwise(lit(""))).as("text"))
    val inDir = tmpDir("pii_stream_in")
    val now = System.currentTimeMillis()
    val chunkPaths = (0 until 3).map { i =>
      val staging = tmpDir(s"pii_stage$i")
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(inDir, s"d$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (3 - i) * 60000L))
      dst.getAbsolutePath
    }
    val schema = spark.read.parquet(inDir).schema
    val seenBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Redaction.piiPartials(
        Streaming.parquetFileSource(spark, inDir, schema))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", tmpDir("pii_ck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (state: DataFrame, id: Long) =>
        val s = state.persist()
        try {
          val prefix = s.sparkSession.read
            .parquet(chunkPaths.take(id.toInt + 1): _*)
          val live = Redaction.incidenceFromPartials(s)
          val batch = Redaction.piiIncidence(prefix)
          assert(live.exceptAll(batch).count() == 0 &&
            batch.exceptAll(live).count() == 0,
            s"batch $id: live incidence diverges from the batch card")
          seenBatches.incrementAndGet()
          ()
        } finally { s.unpersist(); () }
      }.start()
    q.awaitTermination()
    assert(seenBatches.get() == 3,
      s"expected 3 micro-batches, saw ${seenBatches.get()}")
  }

  test("streaming monitoring trio: complete-mode daily partials derive q185/q186/q187 exactly after EVERY micro-batch") {
    // the trio's shared types×days state is the same state-is-the-result
    // class as distTestBins: complete-mode aggregation with the full
    // seasonality/change-point/EWMA cards re-derivable per micro-batch —
    // each batch's derivation must EQUAL the batch operator run over the
    // exact file prefix that batch has seen
    import graft.queries.Advanced
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val events = Tables.events(spark, sf)
    val inDir = tmpDir("trio_stream_in")
    // three interleaved chunks as single files with strictly increasing
    // mtimes: maxFilesPerTrigger=1 + oldest-first ordering makes batch i
    // ingest exactly file i (all three cards move on every batch)
    val now = System.currentTimeMillis()
    val chunkPaths = (0 until 3).map { i =>
      val staging = tmpDir(s"trio_stage$i")
      events.filter(col("event_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(inDir, s"c$i.parquet")
      Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(now - (3 - i) * 60000L))
      dst.getAbsolutePath
    }
    val schema = spark.read.parquet(inDir).schema
    val seenBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = Advanced.dailyPartials(
        Streaming.parquetFileSource(spark, inDir, schema))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", tmpDir("trio_ck"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (state: DataFrame, id: Long) =>
        val s = state.persist()
        try {
          val prefix = s.sparkSession.read
            .parquet(chunkPaths.take(id.toInt + 1): _*)
          def same(live: DataFrame, batch: DataFrame, what: String): Unit =
            assert(live.exceptAll(batch).count() == 0 &&
              batch.exceptAll(live).count() == 0,
              s"batch $id: live $what diverges from the batch operator")
          same(Advanced.dowFromDaily(s),
            Advanced.dowSeasonality(prefix), "q185 dow seasonality")
          same(Advanced.cusumFromDaily(s),
            Advanced.cusumChangepoint(prefix), "q186 CUSUM change-point")
          same(Advanced.ewmaFromDaily(s),
            Advanced.ewmaLevel(prefix), "q187 EWMA level")
          seenBatches.incrementAndGet()
          ()
        } finally { s.unpersist(); () }
      }.start()
    q.awaitTermination()
    assert(seenBatches.get() == 3,
      s"expected 3 micro-batches, saw ${seenBatches.get()}")
  }

  test("streaming stats rollup: complete-mode partials equal the batch rollup") {
    // the maintained aggregate IS streaming-capable: same expression
    // tree, groups-bounded state, no watermark needed (complete mode)
    import graft.ext.Rollup
    val docs = Tables.documents(spark, sf)
    val docDir = tmpDir("rollup_stream")
    docs.orderBy("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(docDir)
    val schema = spark.read.parquet(docDir).schema
    val stream = Streaming.parquetFileSource(spark, docDir, schema)
    Streaming.drainToMemory(
      Rollup.statsRollup(stream), "stats_rollup", outputMode = "complete")
    val streamed = spark.sql(
      "SELECT source, lang, n_docs, sum_chars, sumsq_chars, min_chars, max_chars FROM stats_rollup")
    val batch = Rollup.statsRollup(docs)
    assert(streamed.count() > 0, "no rollup state streamed")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed rollup partials disagree with the batch rollup")
  }

  test("streaming vocab sketch: complete-mode HLL state matches the batch estimates") {
    // the cardinality monitor runs live: hll_sketch_agg is a mergeable
    // TypedImperativeAggregate, so complete mode keeps one fixed-size
    // sketch per group — the vocabulary-growth monitor per source
    import graft.ext.Rollup
    val docs = Tables.documents(spark, sf)
    val docDir = tmpDir("vocab_stream")
    docs.orderBy("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(docDir)
    val schema = spark.read.parquet(docDir).schema
    val stream = Streaming.parquetFileSource(spark, docDir, schema)
    Streaming.drainToMemory(
      Rollup.vocabSketch(stream), "vocab_sketch", outputMode = "complete")
    val streamed = Rollup.vocabEstimate(
      spark.sql("SELECT source, sketch FROM vocab_sketch"))
    val batch = Rollup.vocabEstimate(Rollup.vocabSketch(docs))
    assert(streamed.count() > 0, "no vocab state streamed")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed vocab estimates disagree with the batch sketch")
  }

  test("streaming drift monitor: z-flags derived from live rollup state equal batch q140") {
    // the drift probe composes with the streamed rollup: feed the batch
    // half through complete-mode statsRollup, then run driftVsRollup
    // against the (persisted-index-shaped) other half — the LIVE form of
    // q140, so a monitoring stream flags mean shifts without any rescan
    import graft.ext.Rollup
    import org.apache.spark.sql.functions.expr
    val docs = Tables.documents(spark, sf)
    val half = expr(s"(doc_id div ${Rollup.DriftSplitDiv}) % 2")
    val idx = docs.filter(half === 0)
    val bat = docs.filter(half === 1)
    val batDir = tmpDir("drift_stream")
    bat.orderBy("doc_id").coalesce(1).write.mode("overwrite").parquet(batDir)
    val schema = spark.read.parquet(batDir).schema
    val stream = Streaming.parquetFileSource(spark, batDir, schema)
    Streaming.drainToMemory(
      Rollup.statsRollup(stream, Seq("source")), "drift_rollup",
      outputMode = "complete")
    val streamedBat = spark.sql(
      "SELECT source, n_docs, sum_chars, sumsq_chars, min_chars, max_chars FROM drift_rollup")
    val live = Rollup.driftVsRollup(
      Rollup.statsRollup(idx, Seq("source")), streamedBat)
    val batch = SparkEntry.queries("q140_rollup_drift")(spark, sf)
    assert(live.count() > 0)
    assert(live.exceptAll(batch).count() == 0 &&
      batch.exceptAll(live).count() == 0,
      "live drift card disagrees with the batch q140")
  }

  test("tier sample and epoch shuffle assignment are streaming-safe projections") {
    // the new sampling family decides membership per-record (hash of the
    // record's own key) — stateless projections, so the SAME column
    // expressions must run unchanged on a stream and agree with the
    // batch result row-for-row. The per-shard position (a window) is the
    // one deliberately batch-only step; shard ASSIGNMENT is what a
    // streaming writer needs and is covered here.
    import graft.ext.Sampling
    import org.apache.spark.sql.functions.col
    val docDir = tmpDir("docs_stream")
    Tables.documents(spark, sf).orderBy("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(docDir)
    val schema = spark.read.parquet(docDir).schema
    val stream = Streaming.parquetFileSource(spark, docDir, schema)
    Streaming.drainToMemory(
      Sampling.qualityTierSample(stream)
        .withColumn("shard", Sampling.hashBucket(col("doc_id"), 8, "epoch1:")),
      "tier_stream")
    val streamed = spark.sql("SELECT doc_id, tier, kept, shard FROM tier_stream")
    val batch = Sampling.qualityTierSample(Tables.documents(spark, sf))
      .withColumn("shard", Sampling.hashBucket(col("doc_id"), 8, "epoch1:"))
    assert(streamed.count() == batch.count, "stream dropped rows")
    assert(streamed.exceptAll(batch).count() == 0,
      "streamed tier/shard decisions disagree with batch")
  }

  test("maintenance stream: rollup + vocab track the stream exactly; at-least-once replay (incl. post-fold) cannot double-count") {
    import graft.ext.Rollup
    val docs = Tables.documents(spark, sf)
    def rollupRows(df: org.apache.spark.sql.DataFrame) =
      Rollup.finalizeRollup(df).collect().map(_.toSeq).toSet
    def vocabRows(df: org.apache.spark.sql.DataFrame) =
      Rollup.vocabEstimate(df).collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Double]("est_distinct_tokens")))
        .toSet
    val wantRollup = rollupRows(Rollup.statsRollup(docs))
    val wantVocab = vocabRows(Rollup.vocabSketch(docs))

    // end-to-end: 4 files → 4 micro-batches; compactEvery=2 forces a fold
    val docDir = tmpDir("maint_docs")
    docs.repartitionByRange(4, col("doc_id")).write.mode("overwrite").parquet(docDir)
    val schema = spark.read.parquet(docDir).schema
    val dir = tmpDir("maint_art")
    Rollup.maintainStream(Streaming.parquetFileSource(spark, docDir, schema),
      dir, tmpDir("maint_ck"), compactEvery = 2).awaitTermination()
    assert(rollupRows(Rollup.readMaintainedRollup(spark, dir)) == wantRollup,
      "streamed rollup diverges from the one-shot build")
    assert(vocabRows(Rollup.readMaintainedVocab(spark, dir)) == wantVocab,
      "streamed vocab estimates diverge from the one-shot build")

    // deterministic replay: drive the same loop by hand, then re-deliver
    // batches — one still-live, one already FOLDED into the base
    val dir2 = tmpDir("maint_replay")
    val keysR = Seq("source", "lang")
    val keysV = Seq("source")
    def slice(i: Int) = docs.filter(col("doc_id") % 4 === i)
    def apply(i: Int): Unit = {
      Rollup.applyMaintenanceBatch(spark, s"$dir2/rollup",
        Rollup.statsRollup(slice(i), keysR), i.toLong, keysR,
        Rollup.mergeRollups(_, _, keysR), compactEvery = 2)
      Rollup.applyMaintenanceBatch(spark, s"$dir2/vocab",
        Rollup.vocabSketch(slice(i), keysV), i.toLong, keysV,
        Rollup.mergeVocab(_, _, keysV), compactEvery = 2)
    }
    (0 to 3).foreach(apply) // fold happens after batch 2 (3 live > 2)
    val r1 = rollupRows(Rollup.readMaintainedRollup(spark, dir2))
    val v1 = vocabRows(Rollup.readMaintainedVocab(spark, dir2))
    assert(r1 == wantRollup, "hand-driven loop diverges from one-shot build")
    assert(v1 == wantVocab)
    apply(2) // replay a batch the fold already consumed
    apply(3) // replay the still-live tail batch
    assert(rollupRows(Rollup.readMaintainedRollup(spark, dir2)) == r1,
      "replay double-counted a batch")
    assert(vocabRows(Rollup.readMaintainedVocab(spark, dir2)) == v1,
      "replay double-counted vocab tokens")

    // crashed-fold window: base published but the folded partials were
    // NOT deleted (crash between publish and GC). The __upto watermark
    // must filter them — readers cannot double-count, and the next
    // fold's GC clears them without a re-fold.
    val uptoNow = spark.read.parquet(s"$dir2/rollup/base")
      .agg(max(col("__upto"))).head().getLong(0)
    // resurrect a folded partial exactly as a crashed GC would leave it
    Rollup.statsRollup(slice(1), keysR).write.mode("overwrite")
      .parquet(s"$dir2/rollup/parts/batch=1")
    assert(1L <= uptoNow, "fixture: batch 1 must be below the fold watermark")
    assert(rollupRows(Rollup.readMaintainedRollup(spark, dir2)) == r1,
      "a surviving folded partial was double-counted after a crashed fold GC")
  }

  test("scd2 maintenance stream: foreachBatch folds change batches into the persisted dim; replay cannot mint versions") {
    import graft.operators.Scd2
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val in = tmpDir("scd2_in")
    val dir = tmpDir("scd2_dim")
    val ckpt = tmpDir("scd2_ckpt")
    Files.writeString(Paths.get(in, "b1.csv"),
      "k,status,d,seq\n1,O,2024-01-01,1\n2,O,2024-01-02,2\n")
    // b2 redelivers b1's first change row alongside genuinely new ones
    Files.writeString(Paths.get(in, "b2.csv"),
      "k,status,d,seq\n1,F,2024-02-01,3\n3,O,2024-02-02,4\n1,O,2024-01-01,1\n")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("status", StringType), StructField("d", StringType),
      StructField("seq", LongType)))
    val q = spark.readStream.schema(schema).option("header", "true")
      .option("maxFilesPerTrigger", 1).csv(in)
      .withColumn("d", to_date(col("d")))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Scd2.appendToDim(spark, dir, b, Seq("k"), "d", Seq("seq"))
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val allChanges = Seq(
      (1L, "O", "2024-01-01", 1L), (2L, "O", "2024-01-02", 2L),
      (1L, "F", "2024-02-01", 3L), (3L, "O", "2024-02-02", 4L))
      .toDF("k", "status", "d", "seq")
      .withColumn("d", to_date(col("d")))
    val expected = Scd2.fromChangeLog(allChanges, Seq("k"), "d", Seq("seq"))
    def same(a: org.apache.spark.sql.DataFrame) =
      a.exceptAll(expected).count() == 0 && expected.exceptAll(a).count() == 0
    assert(same(Scd2.readDim(spark, dir)),
      "streamed dim diverged from the from-scratch build")
    // crash-replay the whole second batch at-least-once
    Scd2.appendToDim(spark, dir,
      allChanges.filter(col("seq") >= 3L), Seq("k"), "d", Seq("seq"))
    assert(same(Scd2.readDim(spark, dir)),
      "replaying an applied batch changed the dimension")
  }

  test("range join enriches a stream: the bucketed rewrite is stream-static safe") {
    // the bucket column is a stateless projection and the interval side
    // a static exploded frame, so RangeJoin.pointInInterval composes
    // with Structured Streaming as a plain stream-static equi-join —
    // no watermark, no state store, per-batch semantics.
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val in = tmpDir("rj_in")
    val out = tmpDir("rj_out") + "/joined"
    val ckpt = tmpDir("rj_ckpt")
    Files.writeString(Paths.get(in, "p1.csv"), "p\n1\n5\n42\n99\n")
    Files.writeString(Paths.get(in, "p2.csv"), "p\n7\n120\n")
    val pts = spark.readStream
      .schema(StructType(Seq(StructField("p", LongType))))
      .option("header", "true").csv(in)
    val intervals = Seq(("a", 0L, 10L), ("b", 40L, 50L), ("c", 100L, 200L))
      .toDF("iv", "lo", "hi")
    val q = graft.operators.RangeJoin
      .pointInInterval(pts, intervals, "p", "lo", "hi", 8L)
      .select("p", "iv")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(out).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (5L, "a"), (7L, "a"), (42L, "b"), (120L, "c")),
      s"stream-static range join wrong: $got")
  }

  test("capstone: admit → rollup+vocab+bins maintenance → release publish; mid-fold crash + checkpoint replay converge to the one-shot builds") {
    import graft.ext.{CorpusBuild, Rollup}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger

    // ---- stage 0: a feed with planted cross-batch duplicates ----------
    val docs = Tables.documents(spark, sf)
    val dups = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L)) // same text, new id
    val feed = docs.unionByName(dups)
    val inDir = tmpDir("cap_in")
    feed.repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(inDir)
    val schema = spark.read.parquet(inDir).schema

    // ---- stage 1: streaming admission (dedup state in the table) ------
    val corpus = tmpDir("cap_corpus") + "/docs"
    Streaming.corpusAdmitStream(
      Streaming.parquetFileSource(spark, inDir, schema),
      corpus, tmpDir("cap_ck1")).awaitTermination()
    val admitted = spark.read.parquet(corpus)
    assert(admitted.count() < feed.count(),
      "planted duplicates should be rejected at admission")
    assert(admitted.select("doc_id").distinct().count() == admitted.count())

    // ---- one-shot batch builds over the ADMITTED corpus ---------------
    val keysR = Seq("source", "lang")
    val keysV = Seq("source")
    def rollupRows(df: DataFrame) =
      Rollup.finalizeRollup(df).collect().map(_.toSeq).toSet
    def vocabRows(df: DataFrame) =
      Rollup.vocabEstimate(df).collect()
        .map(r => (r.getAs[String]("source"),
          r.getAs[Double]("est_distinct_tokens"))).toSet
    val wantRollup = rollupRows(Rollup.statsRollup(admitted))
    val wantVocab = vocabRows(Rollup.vocabSketch(admitted))
    val wantBins = Rollup.docBins(admitted).collect().map(_.toSeq).toSet

    // ---- stage 2: three-artifact maintenance stream with an injected
    // crash AFTER the rollup's fold but BEFORE vocab/bins apply ---------
    val art = tmpDir("cap_art")
    val ck2 = tmpDir("cap_ck2")
    // TWO injected crashes at DIFFERENT artifact boundaries: first after
    // the rollup's fold (vocab/bins unapplied), then on a later batch
    // after vocab (bins unapplied) — each restart replays the failed
    // batch from the checkpoint against partially-advanced artifacts
    val poisonAfterRollup = new java.util.concurrent.atomic.AtomicBoolean(true)
    val poisonAfterVocab = new java.util.concurrent.atomic.AtomicBoolean(true)
    def startMaint() = Streaming.parquetFileSource(spark, corpus, schema)
      .writeStream.option("checkpointLocation", ck2)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val b = batch.persist()
        try {
          // compactEvery = 1 → the rollup FOLDS on batch 1 (2 live > 1)
          Rollup.applyMaintenanceBatch(s, s"$art/rollup",
            Rollup.statsRollup(b, keysR), id, keysR,
            Rollup.mergeRollups(_, _, keysR), compactEvery = 1)
          if (id >= 1 && poisonAfterRollup.getAndSet(false))
            sys.error("injected mid-fold crash (after rollup)")
          Rollup.applyMaintenanceBatch(s, s"$art/vocab",
            Rollup.vocabSketch(b, keysV), id, keysV,
            Rollup.mergeVocab(_, _, keysV), compactEvery = 1)
          if (id >= 2 && poisonAfterVocab.getAndSet(false))
            sys.error("injected mid-fold crash (after vocab)")
          Rollup.applyMaintenanceBatch(s, s"$art/bins",
            Rollup.docBins(b), id, Seq("g", "v"),
            Rollup.mergeBins, compactEvery = 1)
        } finally { b.unpersist(); () }
      }.start()
    val crash1 = intercept[Exception](startMaint().awaitTermination())
    assert(crash1.getMessage != null)
    // restart from the SAME checkpoint: the failed batch replays (same
    // id, same file) — re-applies below a fold watermark are idempotent
    // overwrites; the lagging artifacts catch up. The second poison
    // kills this run too, at the other boundary…
    val crash2 = intercept[Exception](startMaint().awaitTermination())
    assert(crash2.getMessage != null)
    // …and the third run drains to completion
    startMaint().awaitTermination()

    assert(rollupRows(Rollup.readMaintainedRollup(spark, art)) == wantRollup,
      "maintained rollup diverges from the one-shot build after crash+replay")
    assert(vocabRows(Rollup.readMaintainedVocab(spark, art)) == wantVocab,
      "maintained vocab diverges from the one-shot build after crash+replay")
    assert(Rollup.readMaintainedBins(spark, art).collect()
        .map(_.toSeq).toSet == wantBins,
      "maintained bins diverge from the one-shot build after crash+replay")

    // ---- stage 3: release publish from the admitted corpus ------------
    val rel = tmpDir("cap_rel") + "/release"
    CorpusBuild.publishRelease(spark, admitted, rel)
    val (manifest, ledger) = CorpusBuild.readRelease(spark, rel)
    val direct = CorpusBuild.releaseManifest(admitted)
    assert(manifest.exceptAll(direct).isEmpty &&
      direct.exceptAll(manifest).isEmpty,
      "published release manifest diverges from the direct build")
    assert(ledger.count() > 0)
  }

  test("pair-index maintenance stream: per micro-batch, the index-derived band-load audit ≡ the text-scan audit of the admitted prefix") {
    // The live band-health monitor (q197's state-derived form) in its
    // production seat: each admitted batch folds into the maintained
    // pair index at O(batch) publish IO, and the monitor reads the
    // INDEX's persisted signatures — never the raw corpus — yet must
    // match a from-scratch text scan of everything admitted so far.
    import graft.ext.Dedup
    import org.apache.spark.sql.streaming.Trigger
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val in = tmpDir("pidx_stream_in")
    val idx = tmpDir("pidx_stream_idx") + "/index"
    val ckpt = tmpDir("pidx_stream_ckpt")
    // three admitted batches as separate parquet files (1 per trigger)
    Seq(0, 1, 2).foreach { m =>
      docs.filter(col("doc_id") % 3 === m).coalesce(1)
        .write.parquet(s"$in/b$m")
    }
    Seq(0, 1, 2).foreach { m =>
      val part = new java.io.File(s"$in/b$m").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$in/batch_$m.parquet"))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$in/b$m"))
    }
    val admitted = new scala.collection.mutable.ArrayBuffer[Long]()
    val failures = new scala.collection.mutable.ArrayBuffer[String]()
    val q = Streaming.parquetFileSource(spark, in, docs.schema)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val s = batch.sparkSession
        if (id == 0L) Dedup.buildPairIndex(batch, idx)
        else Dedup.appendToPairIndex(s, idx, batch)
        admitted ++= batch.select("doc_id").collect().map(_.getLong(0))
        val prefix = docs.filter(col("doc_id").isin(admitted.toSeq: _*))
        val derived = Dedup.bandLoadFromIndex(s, idx).collect().toSeq
        val scanned = Dedup.bandLoadAudit(prefix).collect().toSeq
        if (derived != scanned)
          failures += s"batch $id: derived=$derived scanned=$scanned"
        ()
      }.start()
    q.awaitTermination()
    assert(admitted.size == docs.count(), "stream did not admit every doc")
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
