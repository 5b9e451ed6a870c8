package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import graft.{SparkEntry, Tables}
import graft.pipeline.{Clean, GraftConfig, Ingest, OrdersDomain, Pipeline, Quality, Store}
import graft.streaming.Streaming
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import Main.timed

private object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** `etl_batch`: one operation is one day of the reference's product.
  * First the batch run: `Pipeline.run` over three sources (the orders
  * domain of the base tables, the day's CSV drop and the day's JSON drop)
  * into a full-rewrite orders table. The first (cold) day creates the
  * table; every later day merges new orders, updates of the previous
  * day's orders and re-deliveries into it. Then the day's streamed
  * traffic: one order-delta CSV file drained by `Streaming.upsertStream`
  * into an incremental (bucket-partitioned) orders table, and one document
  * file drained by `Streaming.corpusAdmitStream` against the admitted
  * corpus, both with their fixed `Trigger.AvailableNow`. Set-up seeds the
  * corpus with the base documents; the first day's order deltas create
  * the incremental table.
  */
final class EtlBatch(spark: SparkSession, in: String, work: String,
    tracer: Tracer, out: Out) extends Workload {
  import EtlBatch._

  private val outDir = s"$work/etl_out"
  private val root = s"$work/stream"
  private val table = s"$root/orders"
  private val corpus = s"$root/corpus"
  private val deltasIn = new File(s"$root/deltas_in")
  private val docsIn = new File(s"$root/docs_in")
  private def listed(d: String) =
    Option(new File(in, d).listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Nil)
  private val days = listed(".").filter(_.getName.startsWith("day_"))
  private val deltas = listed("deltas")
  private val docs = listed("docs")
  private var next = 0
  private var deltaSchema: StructType = _
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("kind", StringType)))
  private var upsertId = ""
  private var admitId = ""
  private val admitWarm = mutable.ArrayBuffer[Double]()
  private val traced = mutable.ArrayBuffer[(Tracer.Span, Tracer.Span, Pipeline.PipelineReport)]()

  def setup(): Unit = {
    out.str("domain_cte", OrdersDomain.OracleCte)
    out.str("clean_cte", Clean.OracleCte)
    out.str("quality_sql", Quality.oracleSql("ingested"))
    Tables.documents(spark, in).select("doc_id", "text").write.parquet(corpus)
    deltasIn.mkdirs(); docsIn.mkdirs()
    val fields = OrdersDomain.fromTpch(spark, in).schema.map(f => f.name -> f).toMap
    val header = Files.readAllLines(deltas.head.toPath).get(0).split(",").toSeq
    deltaSchema = StructType(header.map(fields))
  }

  override def more: Boolean = next < (days.size min deltas.size min docs.size)

  def op(i: Int): Unit = {
    val day = days(next).getPath
    val tag = if (i == 0) "cold" else if (tracer.enabled) "traced" else "timed"
    val sources = tracer.span("etl.read_sources") {
      Seq(OrdersDomain.fromTpch(spark, in),
        Ingest.readCsvDir(spark, s"$day/csv_drop"),
        Ingest.readJsonDir(spark, s"$day/json_drop"))
    }
    val t1 = System.nanoTime()
    val report = tracer.span("etl.run") {
      Pipeline.run(spark, sources, outDir, GraftConfig(), runId = f"RUN-$i%04d")
    }
    out.sample("etl.run_s", (System.nanoTime() - t1) / 1e9)
    out.sample("etl.success", if (report.success) 1 else 0)
    out.sample("etl.stored", report.recordsStored.toDouble)
    out.sample("etl.quality", report.qualityScore.getOrElse(Double.NaN))
    report.stages.foreach(s => out.sample(s"etl.stage.${s.stage}", s.seconds))
    report.stages.filterNot(_.success).foreach(s =>
      out.str(s"etl.error.$i.${s.stage}", s.error.getOrElse("")))
    if (tracer.enabled) {
      val run = tracer.spans.findLast(_.name == "etl.run").get
      val read = tracer.spans.findLast(_.name == "etl.read_sources").get
      traced += ((read, run, report))
    }

    Files.move(deltas(next).toPath, new File(deltasIn, deltas(next).getName).toPath)
    Files.move(docs(next).toPath, new File(docsIn, docs(next).getName).toPath)
    next += 1
    val t2 = System.nanoTime()
    val up = tracer.span("upsert.drain") {
      val q = Streaming.upsertStream(
        Streaming.csvFileSource(spark, deltasIn.getPath, deltaSchema).drop("source_file"),
        table, s"$root/ckpt_upsert", numBuckets = StreamBuckets)
      q.awaitTermination()
      q
    }
    val ad = tracer.span("admit.drain") {
      val q = Streaming.corpusAdmitStream(
        Streaming.parquetFileSource(spark, docsIn.getPath, docSchema).select("doc_id", "text"),
        corpus, s"$root/ckpt_admit")
      q.awaitTermination()
      q
    }
    out.sample(s"drain.$tag", (System.nanoTime() - t2) / 1e9)
    upsertId = up.id.toString
    admitId = ad.id.toString
    for ((name, q) <- Seq("upsert" -> up, "admit" -> ad); p <- q.recentProgress) {
      val s = p.durationMs.get("triggerExecution").doubleValue / 1e3
      out.sample(s"$name.batch.$tag", s)
      if (name == "admit" && i > 0) admitWarm += s
    }
  }

  def layers(): Unit = {
    tracer.drain()
    etlLayers()
    streamLayers()
  }

  /** Per-stage attribution. `Pipeline.run` is one call, so its stages are
    * recovered from outside: the report gives each stage's duration, the
    * stages up to standardization run back to back from the call's start,
    * and storage ends where the run-telemetry append (the run's last SQL
    * execution) begins. Between standardization and storage sits the
    * drop-accounting pass, reported as its own `accounting` window. */
  private def etlLayers(): Unit = {
    val per = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def add(k: String, v: Double): Unit = per.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    traced.foreach { case (read, run, report) =>
      val readJobs = tracer.jobsUnder(read)
      val runJobs = tracer.jobsUnder(run)
      val secs = report.stages.map(s => s.stage -> s.seconds).toMap
      val windows = mutable.LinkedHashMap[String, (Long, Long)]()
      var t = run.startMs.toDouble
      Seq("ingestion", "validation", "cleaning", "enrichment", "standardization").foreach { st =>
        val d = secs.getOrElse(st, 0.0) * 1000
        windows(st) = (t.toLong, (t + d).toLong)
        t += d
      }
      val lastExec = runJobs.flatMap(_.exec).distinct.flatMap(tracer.execs.get)
        .filter(_.startMs > 0).sortBy(_.startMs).lastOption
      val storeEnd = lastExec.map(_.startMs).getOrElse(run.endMs)
      val storeStart = storeEnd - (secs.getOrElse("storage", 0.0) * 1000).toLong
      windows("accounting") = (t.toLong, storeStart)
      windows("storage") = (storeStart, storeEnd)
      def inWindow(w: (Long, Long)) = runJobs.filter(j => j.startMs >= w._1 && j.startMs < w._2)
      Stages.foreach { case (stage, name) =>
        val (a, b) = windows(stage)
        val extraS = if (stage == "ingestion") read.wallS else 0.0
        val extraJobs = if (stage == "ingestion") readJobs.size else 0
        add(s"etl.$name.wall_s", (b - a) / 1e3 + extraS)
        add(s"etl.$name.jobs", inWindow((a, b)).size + extraJobs)
      }
      val all = readJobs ++ runJobs
      val c = tracer.counts(all)
      add("etl.jobs", c.jobs)
      add("etl.scan_bytes", c.inputBytes)
      add("etl.write_bytes", c.outputBytes)
      add("etl.shuffle_bytes", c.shuffleBytes)
      add("etl.spill_bytes", c.spillBytes)
      add("etl.executor_run_s", c.runMs / 1e3)
      add("etl.plan_s", c.planMs / 1e3)
      add("etl.driver_gap_s",
        (tracer.driverGapMs(readJobs, read.startMs, read.endMs) +
          tracer.driverGapMs(runJobs, run.startMs, run.endMs)) / 1e3)
    }
    per.foreach { case (k, vs) => out.perLayer(k, Stats.mean(vs.toSeq)) }
  }

  /** Per-batch stream figures from the traced days' micro-batches; the
    * admission growth from every warm day's batch latency. */
  private def streamLayers(): Unit = {
    val progress = tracer.progress.toSeq
    for ((name, id) <- Seq("upsert" -> upsertId, "admit" -> admitId)) {
      val ps = progress.filter(_.queryId == id)
      val n = ps.size max 1
      val js = tracer.jobs.values.filter(_.streamId.contains(id)).toSeq
      val c = tracer.counts(js)
      val rows = ps.map(_.inputRows).sum max 1L
      out.perLayer(s"$name.jobs_per_batch", c.jobs.toDouble / n)
      out.perLayer(s"$name.plan_s", (c.planMs + ps.map(_.planningMs).sum) / 1e3 / n)
      if (name == "upsert") {
        out.perLayer("upsert.write_bytes_per_batch", c.outputBytes.toDouble / n)
        out.perLayer("upsert.write_amp", c.outputRecords.toDouble / rows)
      } else {
        out.perLayer("admit.scan_bytes_per_batch", c.inputBytes.toDouble / n)
      }
    }
    out.perLayer("admit.growth",
      if (admitWarm.size < 2) 1.0 else admitWarm.last / admitWarm.head)
    val ps = progress.filter(p => p.queryId == upsertId || p.queryId == admitId)
    val n = ps.size max 1
    out.perLayer("stream.wal_commit_s", ps.map(_.walCommitMs).sum / 1e3 / n)
    out.perLayer("stream.latest_offset_s", ps.map(_.latestOffsetMs).sum / 1e3 / n)
  }
}

object EtlBatch {
  /** Report stage → per-layer metric name (`accounting` is the
    * drop-count pass between standardization and storage). */
  val Stages: Seq[(String, String)] = Seq(
    "ingestion" -> "ingest", "validation" -> "validate", "cleaning" -> "clean",
    "enrichment" -> "enrich", "standardization" -> "standardize",
    "accounting" -> "accounting", "storage" -> "store")

  /** Bucket count of the stream-fed table (the engine's default, 64, is
    * sized for large tables; at this size it would write 64 tiny files). */
  val StreamBuckets = 4
}

/** `query_mix`: a fixed set of registered, oracle-backed, read-only
  * queries, each pass in a seeded order, every result executed in full
  * through the noop sink. One operation = one pass; an untraced run
  * measures two warm passes, so each query has two warm samples. */
final class QueryMix(spark: SparkSession, in: String, work: String, seed: Long,
    tracer: Tracer, out: Out) extends Workload {
  import QueryMix._

  private var codegenMs = 0.0

  override def warmOps: Int = 2

  /** Records each query's oracle SQL for the DuckDB comparison. */
  def setup(): Unit = Names.foreach(q => out.str(s"oracle.$q", SparkEntry.oracleSql(q)))

  /** The cold first pass writes each result to parquet (for the DuckDB
    * comparison in `run.py`, once per invocation); later passes execute
    * through the noop sink. */
  def op(i: Int): Unit = {
    val order = new scala.util.Random(seed * 1000003L + i).shuffle(Names)
    val hist = CodegenMetrics.METRIC_COMPILATION_TIME
    val n0 = hist.getCount
    tracer.span("mix.pass") {
      order.foreach { q =>
        val s = timed(tracer.span(s"q.$q") {
          val w = SparkEntry.queries(q)(spark, in).write.mode("overwrite")
          if (i == 0) w.parquet(s"$work/results/$q") else w.format("noop").save()
        })
        out.sample((if (i == 0) "cold." else if (tracer.enabled) "qt." else "q.") + q, s)
      }
    }
    // code generation happens in the cold pass (later passes hit the
    // codegen cache). Spark keeps compile times only as a sampled
    // histogram: the count is exact, the per-compile mean is sampled.
    if (i == 0) codegenMs = (hist.getCount - n0) * hist.getSnapshot.getMean
  }

  def layers(): Unit = {
    tracer.drain()
    val passes = tracer.spans.filter(_.name == "mix.pass")
    val n = passes.size max 1
    Names.foreach { q =>
      val spans = tracer.spans.filter(_.name == s"q.$q")
      out.perLayer(s"q.$q.s", Stats.median(spans.map(_.wallS).toSeq))
      out.perLayer(s"q.$q.jobs",
        Stats.mean(spans.map(s => tracer.jobsUnder(s).size.toDouble).toSeq))
    }
    val jobs = passes.flatMap(tracer.jobsUnder).toSeq
    val c = tracer.counts(jobs)
    out.perLayer("mix.plan_s", c.planMs / 1e3 / n)
    out.perLayer("mix.driver_gap_s",
      passes.map(p => tracer.driverGapMs(tracer.jobsUnder(p), p.startMs, p.endMs)).sum / 1e3 / n)
    out.perLayer("mix.codegen_s", codegenMs / 1e3)
    out.perLayer("mix.tasks", c.tasks.toDouble / n)
    out.perLayer("mix.executor_run_s", c.runMs / 1e3 / n)
    out.perLayer("mix.shuffle_bytes", c.shuffleBytes.toDouble / n)
    out.perLayer("mix.spill_bytes", c.spillBytes.toDouble / n)
  }
}

object QueryMix {
  val Names: Seq[String] = Seq(
    "q08_dedup_key_keepfirst", "q41_asof_join", "q54_asof_join_native",
    "q18_numeric_summary", "q166_percentile_rank", "q170_pagerank",
    "q82_winnow_fingerprints")
}
