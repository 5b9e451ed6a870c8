package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine configuration (ref `config/config.yaml` + dot-access Config,
  * `src/utils.py`/`tests.py:260-280`): only the keys actual reference code
  * reads are modeled. */
final case class GraftConfig(
    qualityThreshold: Double = 80.0,
    requiredFields: Seq[String] = Quality.RequiredFields,
    enableValidation: Boolean = true,
    enableCleaning: Boolean = true,
    enableEnrichment: Boolean = true,
    enableStandardization: Boolean = true,
    asOf: String = Enrich.DefaultAsOf,
    // storage-stage shape (ref StorageOrchestrator.store_all,
    // storage.py:608-651, always does upsert + csv/json export + summary
    // report; here exports/report are opt-in — at 100 TB a CSV export of
    // the whole table is not a default anyone wants — and the upsert can
    // switch to the partition-pruned incremental layout):
    incrementalStorage: Boolean = false,
    exportFormats: Seq[String] = Nil,
    summaryReport: Boolean = false)

/** Orchestrator (ref `PipelineManager.run_pipeline`, `src/pipeline.py:68-208`,
  * and `transform_all`, `src/transformation.py:669-726`) with the
  * reference's exact stage policy:
  *   - validation failure is NON-fatal (`pipeline.py:126-129`);
  *   - cleaning failure is FATAL (`transformation.py:697-701`);
  *   - enrichment / standardization failures are NON-fatal — the stage is
  *     skipped and the previous frame flows on (`transformation.py:710-725`).
  *     That isolation holds at plan time only: the stages are lazy, so a
  *     runtime error in them surfaces in, and fails, the storage write.
  *
  * Unlike the reference's eager stage-at-a-time materialization, the
  * composed stages stay ONE lazy Catalyst plan, each part executed once.
  * A run's actions: the validation query (filling the persisted ingested
  * frame's cache), the storage write (transforming from that cache and
  * observing the input/output row counts), the configured exports/report,
  * and the metrics/telemetry appends. The cleaning, enrichment and
  * standardization seconds are therefore plan-construction time.
  */
object Pipeline {

  /** `json` = JSONL parts (the corpus-scale path); `json-records` = the
    * reference's one-file records-ARRAY artifact (`storage.py:429-432`,
    * report-class — see [[Store.exportJsonRecords]]'s scale note). */
  final val SupportedExportFormats: Set[String] =
    Set("csv", "json", "json-records", "parquet")

  final case class StageResult(stage: String, success: Boolean,
      seconds: Double, error: Option[String])
  final case class PipelineReport(runId: String, success: Boolean,
      stages: Seq[StageResult], recordsStored: Long,
      qualityScore: Option[Double], qualityLevel: Option[String],
      recordsFailed: Long = 0L)

  private def timed[A](stage: String)(body: => A): (Option[A], StageResult) = {
    val t0 = System.nanoTime()
    try {
      val r = body
      (Some(r), StageResult(stage, success = true, (System.nanoTime() - t0) / 1e9, None))
    } catch {
      case e: Exception =>
        (None, StageResult(stage, success = false, (System.nanoTime() - t0) / 1e9,
          Some(e.getMessage)))
    }
  }

  /** Deterministic run id (ref `RUN-{ts}-{uuid8}`, `pipeline.py:79` — the
    * uuid becomes a content-free counter-less token from nanotime; callers
    * needing reproducibility pass their own). */
  def newRunId(): String =
    f"RUN-${System.currentTimeMillis()}%d-${(System.nanoTime() % 0xffffffffL)}%08x"

  /** Run ingest → validate → clean → enrich → standardize → store.
    *
    * @param sources  already-loaded source frames (api/csv/json), combined
    *                 with source-priority keep-first semantics
    * @param outDir   parquet table root (orders/, pipeline_runs/, metrics/)
    */
  def run(spark: SparkSession, sources: Seq[DataFrame], outDir: String,
      config: GraftConfig = GraftConfig(), runId: String = newRunId()): PipelineReport = {
    val stages = Seq.newBuilder[StageResult]
    val startTime = java.time.Instant.now().toString

    // Config sanity BEFORE any work: a typo'd export format must not
    // surface only after the upsert has already committed (a storage-stage
    // abort there would report failure/recordsStored=0 while the table on
    // disk was in fact updated — telemetry lying about state)
    val badFormats = config.exportFormats.filterNot(SupportedExportFormats)
    if (badFormats.nonEmpty) {
      stages += StageResult("configuration", success = false, 0.0,
        Some(s"unsupported export formats: ${badFormats.mkString(", ")}"))
      return PipelineReport(runId, success = false, stages.result(), 0L, None, None)
    }

    // Stage 1: ingestion combine (fatal if it fails)
    val (ingested, s1) = timed("ingestion") { Ingest.collectAll(sources) }
    stages += s1
    if (ingested.isEmpty) {
      return PipelineReport(runId, success = false, stages.result(), 0L, None, None)
    }
    // A frame with two consumers is persisted so its plan executes once:
    // the ingested frame for validation (whose query fills the cache) and
    // storage, the transformed frame for storage and the exports/report.
    // The finally also covers the cleaning stage's early return.
    val persisted = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var current = ingested.get
    var quality: Option[(Double, String)] = None
    var recordsFailed = 0L
    val (stored, s6) =
      try {
        // Stage 2: validation (non-fatal: a failed check is RECORDED but the
        // run continues, pipeline.py:126-129)
        if (config.enableValidation) {
          val (q, s2) = timed("validation") {
            persisted += current.persist() // plans the cache: validation's cost
            val schemaReport = SchemaCheck.validate(current, config.requiredFields)
            val m = Quality.metrics(current, config.asOf).collect().head
            // empty input aggregates to NULL score — getAs[Double] would
            // silently unbox it to 0.0 and report 'critical' for vacuous data
            val score = Option(m.getAs[java.lang.Double]("overall_score"))
              .map(_.doubleValue())
            (score, Option(m.getAs[String]("quality_level")), schemaReport.valid)
          }
          val checked = q match {
            case Some((scoreOpt, levelOpt, schemaValid)) =>
              quality = scoreOpt.zip(levelOpt)
              val problems =
                (if (schemaValid) Nil else Seq("schema validation failed")) ++
                  (scoreOpt match {
                    case Some(sc) if sc < config.qualityThreshold =>
                      Seq(f"quality score $sc%.2f below threshold ${config.qualityThreshold}%.1f")
                    case None => Seq("no quality score (empty input)")
                    case _ => Nil
                  })
              if (problems.isEmpty) s2
              else s2.copy(success = false, error = Some(problems.mkString("; ")))
            case None => s2
          }
          stages += checked
        }

        // Records dropped by clean/dedup (ref records removed counts in its
        // run telemetry): ingested minus what survived the transform stages,
        // both observed inside the storage write — no count job of their own.
        val (observedIn, countIn) = Store.observedCount(current)
        current = observedIn

        // Stage 3a: cleaning (FATAL on failure)
        if (config.enableCleaning) {
          val (cleaned, s3) = timed("cleaning") { Clean(current) }
          stages += s3
          if (cleaned.isEmpty) {
            return PipelineReport(runId, success = false, stages.result(), 0L,
              quality.map(_._1), quality.map(_._2))
          }
          current = cleaned.get
        }

        // Stage 3b/3c: enrichment, standardization (non-fatal, skip-on-error)
        if (config.enableEnrichment) {
          val (enriched, s4) = timed("enrichment") { Enrich(current, config.asOf) }
          stages += s4
          enriched.foreach(current = _)
        }
        if (config.enableStandardization) {
          val (std, s5) = timed("standardization") { Standardize(current) }
          stages += s5
          std.foreach(current = _)
        }

        // Stage 4: storage — upsert + optional exports/report + metrics
        // (ref store_all, storage.py:608-651)
        val (toStore, countOut) = Store.observedCount(current)
        timed("storage") {
          if (config.exportFormats.nonEmpty || config.summaryReport)
            persisted += current.persist()
          val n =
            if (config.incrementalStorage)
              Store.upsertOrdersIncremental(spark, toStore, s"$outDir/orders")
            else Store.upsertOrders(spark, toStore, s"$outDir/orders")
          // read only once the write succeeded (a failed one leaves partial counts)
          if (config.enableCleaning) recordsFailed = math.max(0L, countIn() - countOut())
          config.exportFormats.foreach { // pre-validated above
            case "csv" => Store.exportCsv(current, s"$outDir/exports/orders_csv")
            case "json" => Store.exportJson(current, s"$outDir/exports/orders_json")
            case "json-records" => Store.exportJsonRecords(current,
              s"$outDir/exports/orders_records.json")
            case "parquet" => Store.exportParquet(current, s"$outDir/exports/orders_parquet")
          }
          if (config.summaryReport)
            Store.summaryReport(spark, current,
              Some(s"$outDir/orders_summary.json"), generatedAt = startTime)
          quality.foreach { case (score, _) =>
            Store.appendQualityMetrics(spark, s"$outDir/metrics", runId,
              Seq("data_quality_score" -> score), "quality", "orders", startTime)
          }
          n
        }
      } finally persisted.foreach(_.unpersist())
    stages += s6

    val endTime = java.time.Instant.now().toString
    val all = stages.result()
    val ok = all.forall(_.success)
    Store.appendPipelineRun(spark, s"$outDir/pipeline_runs", runId, "graft",
      startTime, endTime, if (ok) "completed" else "failed",
      stored.getOrElse(0L), recordsFailed,
      all.find(!_.success).flatMap(_.error))
    PipelineReport(runId, ok, all, stored.getOrElse(0L),
      quality.map(_._1), quality.map(_._2), recordsFailed)
  }

  // ---- health check (§3.2) ----------------------------------------------

  final case class ComponentHealth(component: String, status: String,
      detail: String)
  final case class HealthReport(overall: String, components: Seq[ComponentHealth])

  /** Probe data availability, storage writability, and the session itself;
    * roll up healthy/degraded/unhealthy like `pipeline.py:441-450`.
    * (The reference's probe calls a method that doesn't exist and always
    * reports `error` — `pipeline.py:409`, SURVEY.md §3.2; that latent bug
    * is deliberately not reproduced.) */
  def healthCheck(spark: SparkSession, dataDir: String, outDir: String): HealthReport = {
    def probe(name: String)(body: => String): ComponentHealth =
      try ComponentHealth(name, "healthy", body)
      catch { case e: Exception => ComponentHealth(name, "unhealthy",
        String.valueOf(e.getMessage)) }

    val comps = Seq(
      probe("spark_session") { s"version=${spark.version}" },
      probe("data_source") {
        val n = spark.read.parquet(s"$dataDir/orders.parquet").count()
        s"orders_rows=$n"
      },
      probe("file_system") {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val p = new org.apache.hadoop.fs.Path(outDir)
        if (!fs.exists(p)) fs.mkdirs(p)
        s"writable=$outDir"
      })
    val healthy = comps.count(_.status == "healthy")
    val overall =
      if (healthy == comps.length) "healthy"
      else if (healthy * 2 >= comps.length) "degraded"
      else "unhealthy"
    HealthReport(overall, comps)
  }
}
