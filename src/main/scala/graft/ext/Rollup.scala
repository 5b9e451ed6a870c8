package graft.ext

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus-statistics rollup — materialized-aggregate
  * maintenance for the documents table (the `get_database_stats` /
  * summary-report family of ref `storage.py:485-553`, kept INCREMENTALLY
  * instead of recomputed by scan).
  *
  * The state is a per-group row of MERGEABLE partials over `n_chars`:
  * (count, sum, sum-of-squares, min, max). Merge is a group-wise
  * (sum, sum, sum, min, max) — so folding a new batch in costs one
  * aggregate over (existing partials ∪ batch partials), group-cardinality
  * rows, never a rescan of the corpus the rollup already covers. The
  * same property makes the rollup STREAMING-CAPABLE: the identical
  * expression tree runs complete-mode over a document stream with
  * groups-bounded state (StreamingSpec pins stream ≡ batch).
  *
  * Exactness: sums are integers; sum-of-squares is accumulated in
  * DECIMAL(38,0) so there is no float addition order anywhere, and the
  * derived mean/variance are integer micro-unit rationals — the q132
  * discipline — so the DuckDB oracle matches value-level. 38 digits
  * bound the reach: sum(n_chars²) stays exact past 10^25 docs of 10^6
  * chars, but the variance NUMERATOR n·Σx² − (Σx)² squares the corpus
  * sum — exact to ~10^12 docs of ~10^6 chars ((Σx)² ≈ 10^36), beyond
  * which the finalizer must downscale units before squaring (document
  * sums in kilo-chars) rather than switch to floats.
  */
object Rollup {

  /** One micro-unit = 1e-6 of a char; derived stats are exact integers
    * in this unit so both engines round identically. */
  final val Micro = 1000000L

  /** Drift threshold in sigmas for [[driftVsRollup]] (z > 3). */
  final val DriftSigmas = 3L

  /** Per-group mergeable partials over `n_chars`. One hash aggregate,
    * map-side combined; output cardinality = |groups|. */
  def statsRollup(docs: DataFrame,
      keys: Seq[String] = Seq("source", "lang")): DataFrame = {
    require(keys.nonEmpty, "rollup needs at least one key")
    docs.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"),
      // cast BEFORE the multiply: a long×long square overflows past
      // ~3e9-char documents; decimal×long promotes and stays exact
      sum(col("n_chars").cast("decimal(38,0)") * col("n_chars"))
        .cast("decimal(38,0)").as("sumsq_chars"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"))
  }

  /** Merge two partial rollups — the maintenance step's algebra. */
  def mergeRollups(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b).groupBy(keys.map(col): _*).agg(
      sum(col("n_docs")).cast("long").as("n_docs"),
      sum(col("sum_chars")).cast("long").as("sum_chars"),
      sum(col("sumsq_chars")).cast("decimal(38,0)").as("sumsq_chars"),
      min(col("min_chars")).as("min_chars"),
      max(col("max_chars")).as("max_chars"))

  /** Persist the rollup: build pays the corpus scan once. A REBUILD over
    * an existing rollup publishes atomically (staging + backup) like the
    * append path — plain Overwrite deletes the live artifact first, so a
    * mid-build crash would leave readers a truncated frame (round-11
    * hardening, applied to all the build* entry points). */
  def buildStatsRollup(docs: DataFrame, dir: String,
      keys: Seq[String] = Seq("source", "lang")): Unit =
    graft.pipeline.Store.republish(docs.sparkSession, s"$dir/rollup",
      "rollup build")(statsRollup(docs, keys))

  /** Fold a batch into the persisted rollup WITHOUT rescanning the
    * covered corpus: batch partials ∪ stored partials → one group-
    * cardinality aggregate, published with the staging + backup rename
    * discipline (crashed append leaves the previous rollup
    * recoverable; readers never see a half-written merge). */
  def appendToStatsRollup(spark: SparkSession, dir: String, batch: DataFrame,
      keys: Seq[String] = Seq("source", "lang")): Unit =
    graft.pipeline.Store.republish(spark, s"$dir/rollup", "rollup append")(
      mergeRollups(readStatsRollup(spark, dir), statsRollup(batch, keys), keys))

  /** Read the persisted rollup. Read-only: a crashed append swap is
    * served from the backup; repair belongs to the next writer op. */
  def readStatsRollup(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Store.readRecoverableReadOnly(spark, s"$dir/rollup", "rollup read")

  /** Derive the consumer-facing stats from partials: exact integer
    * micro-unit mean and sample variance (round-half-up via the
    * (2·num + den) div (2·den) identity — positive operands, identical
    * floor semantics in Spark `div` and DuckDB `//`). Variance is NULL
    * for single-doc groups. */
  def finalizeRollup(rollup: DataFrame,
      keys: Seq[String] = Seq("source", "lang")): DataFrame =
    rollup.select(
      keys.map(col) ++ Seq(
        col("n_docs"), col("sum_chars"), col("min_chars"), col("max_chars"),
        // denominators promoted to DECIMAL too: 2·n and n·(n−1) overflow
        // LONG at ~4.6e18 / ~2.1e9 rows per group, far below the
        // numerator's documented 38-digit reach
        expr(s"""CAST((CAST(sum_chars AS DECIMAL(38,0)) * $Micro * 2
          | + n_docs) div (2 * CAST(n_docs AS DECIMAL(38,0))) AS BIGINT)""".stripMargin)
          .as("mean_chars_micro"),
        when(col("n_docs") > 1, expr(
          s"""CAST((2 * $Micro * (n_docs * sumsq_chars
            | - CAST(sum_chars AS DECIMAL(38,0)) * sum_chars)
            | + CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1L))
            | div (2 * CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1L)) AS BIGINT)""".stripMargin))
          .otherwise(lit(null).cast("long")).as("var_chars_micro")): _*)
      .orderBy(keys.map(col): _*)

  /** Batch-vs-index drift probe — the monitoring op a persisted rollup
    * exists for: for each shared group, is the batch mean further from
    * the index mean than `sigmas` standard errors? The test is the
    * z-test (mean_b − mean_i)² > T²·var_i/n_b evaluated ENTIRELY in
    * cross-multiplied integer arithmetic (no division, no sqrt, no
    * floats), so the flag itself is oracle-exact:
    * Δ²·(n_i−1) > T²·(n_i·Σx²_i − (Σx_i)²)·n_i·n_b with
    * Δ = Σx_b·n_i − Σx_i·n_b. Joins are group-cardinality — index
    * metadata, broadcast-sized. Δ² squares corpus-scale sums (the
    * finalizer's 38-digit bound applies at ~10^12-doc groups — past
    * that, downscale units before squaring). */
  def driftVsRollup(indexRollup: DataFrame, batchRollup: DataFrame,
      keys: Seq[String] = Seq("source"),
      sigmas: Long = DriftSigmas): DataFrame = {
    val i = indexRollup.select(
      keys.map(col) ++ Seq(col("n_docs").as("n_idx"),
        col("sum_chars").as("sum_idx"),
        col("sumsq_chars").as("sumsq_idx")): _*)
    val b = batchRollup.select(
      keys.map(col) ++ Seq(col("n_docs").as("n_bat"),
        col("sum_chars").as("sum_bat")): _*)
    i.join(b, keys)
      .withColumn("__delta", expr(
        "CAST(sum_bat AS DECIMAL(38,0)) * n_idx - CAST(sum_idx AS DECIMAL(38,0)) * n_bat"))
      .withColumn("__varnum", expr(
        "n_idx * sumsq_idx - CAST(sum_idx AS DECIMAL(38,0)) * sum_idx"))
      .select(
        keys.map(col) ++ Seq(
          col("n_idx"), col("n_bat"),
          expr(s"CAST((CAST(sum_idx AS DECIMAL(38,0)) * $Micro * 2 + n_idx) div (2 * CAST(n_idx AS DECIMAL(38,0))) AS BIGINT)")
            .as("mean_idx_micro"),
          expr(s"CAST((CAST(sum_bat AS DECIMAL(38,0)) * $Micro * 2 + n_bat) div (2 * CAST(n_bat AS DECIMAL(38,0))) AS BIGINT)")
            .as("mean_bat_micro"),
          {
            // past the ~10^12-doc bound the DECIMAL(38,0) products
            // saturate and return NULL under non-ANSI mode — and a NULL
            // `drifted` reads as "not drifted" to most consumers. Surface
            // overflow as a loud per-row failure instead of silence —
            // but ONLY overflow: stats that are NULL on the way IN
            // (a group with no measurable rows) stay an honest NULL
            // verdict; a product that is null from NON-null inputs can
            // only be saturation.
            val inputs = col("__delta").isNotNull && col("__varnum").isNotNull &&
              col("n_idx").isNotNull && col("n_bat").isNotNull
            val lhs = col("__delta") * col("__delta") * (col("n_idx") - 1)
            val rhs = lit(sigmas * sigmas) * col("__varnum") *
              col("n_idx") * col("n_bat")
            when(!inputs, lit(null).cast("boolean"))
              .when(lhs.isNotNull && rhs.isNotNull, lhs > rhs)
              .otherwise(raise_error(lit("driftVsRollup: DECIMAL(38,0) " +
                "overflow in the z-test products — downscale units " +
                "before squaring (see Scaladoc bound)")))
              .as("drifted")
          }): _*)
      .orderBy(keys.map(col): _*)
  }

  private def rollupOracleCte(keys: Seq[String], table: String,
      pred: String = "TRUE"): String = {
    val ks = keys.mkString(", ")
    s"""SELECT $ks, count(*) AS n_docs, sum(n_chars) AS sum_chars,
      |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS sumsq_chars,
      |    min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |  FROM $table WHERE $pred GROUP BY $ks""".stripMargin
  }

  /** q139: the finalized (source, lang) rollup — the inline form of the
    * maintained aggregate; RollupSpec proves build + append ≡ this. */
  val q139StatsRollup: QuerySpec = QuerySpec(
    "q139_stats_rollup",
    s"""WITH r AS (
      |  ${rollupOracleCte(Seq("source", "lang"), "documents")})
      |SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(sum_chars AS BIGINT) AS sum_chars,
      |  CAST(min_chars AS BIGINT) AS min_chars,
      |  CAST(max_chars AS BIGINT) AS max_chars,
      |  CAST((sum_chars * $Micro * 2 + n_docs) // (2 * n_docs) AS BIGINT)
      |    AS mean_chars_micro,
      |  CASE WHEN n_docs > 1 THEN
      |    CAST((2 * $Micro * (n_docs * sumsq_chars - sum_chars * CAST(sum_chars AS HUGEINT))
      |      + n_docs * (n_docs - 1)) // (2 * n_docs * (n_docs - 1)) AS BIGINT)
      |  ELSE NULL END AS var_chars_micro
      |FROM r ORDER BY source, lang""".stripMargin) { (s, dir) =>
    finalizeRollup(statsRollup(Tables.documents(s, dir)))
  }

  /** Snapshot split for q140: alternate STRIDES of 20 doc_ids, not raw
    * parity — the generator assigns source = doc_id mod |sources|, so a
    * parity split would put every source entirely on one side; the
    * stride split interleaves every source's doc_id progression across
    * both halves. */
  final val DriftSplitDiv = 20L

  /** q140: drift card — the even-stride half is the persisted index, the
    * odd-stride half the incoming batch; per-source z-test flag in exact
    * integer arithmetic. */
  val q140RollupDrift: QuerySpec = QuerySpec(
    "q140_rollup_drift",
    s"""WITH i AS (
      |  ${rollupOracleCte(Seq("source"), "documents",
           s"(doc_id // $DriftSplitDiv) % 2 = 0")}),
      |b AS (
      |  ${rollupOracleCte(Seq("source"), "documents",
           s"(doc_id // $DriftSplitDiv) % 2 = 1")})
      |SELECT i.source, CAST(i.n_docs AS BIGINT) AS n_idx,
      |  CAST(b.n_docs AS BIGINT) AS n_bat,
      |  CAST((i.sum_chars * $Micro * 2 + i.n_docs) // (2 * i.n_docs) AS BIGINT)
      |    AS mean_idx_micro,
      |  CAST((b.sum_chars * $Micro * 2 + b.n_docs) // (2 * b.n_docs) AS BIGINT)
      |    AS mean_bat_micro,
      |  ((b.sum_chars * CAST(i.n_docs AS HUGEINT) - i.sum_chars * b.n_docs)
      |      * (b.sum_chars * CAST(i.n_docs AS HUGEINT) - i.sum_chars * b.n_docs)
      |      * (i.n_docs - 1)
      |    > ${DriftSigmas * DriftSigmas}
      |      * (i.n_docs * i.sumsq_chars - i.sum_chars * CAST(i.sum_chars AS HUGEINT))
      |      * i.n_docs * b.n_docs) AS drifted
      |FROM i JOIN b ON i.source = b.source
      |ORDER BY i.source""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val half = expr(s"(doc_id div $DriftSplitDiv) % 2")
    driftVsRollup(
      statsRollup(docs.filter(half === 0), Seq("source")),
      statsRollup(docs.filter(half === 1), Seq("source")))
  }

  // ---- vocabulary-cardinality index (persisted HLL sketch per group) ----

  /** lgK for the Datasketches HLL sketches: 2^12 buckets ≈ ±1.6% rsd,
    * 4 KB max per group — index metadata at any corpus size. */
  final val VocabLgK = 12

  /** Per-group HLL sketch of the token vocabulary — the DISTINCT-count
    * face of the maintained-aggregate family ([[statsRollup]] keeps
    * moments, `TextAnalysis.buildCmsIndex` keeps frequencies, this keeps
    * cardinality): one explode + one sketch aggregate; state is ONE
    * fixed-size binary per group regardless of corpus size, and sketches
    * MERGE by union, so the persisted index folds a batch in at
    * group-cardinality cost, never a rescan ([[appendToVocabIndex]]).
    * The monitor it feeds: vocabulary growth/saturation per source — a
    * flat distinct curve under growing token volume is boilerplate; a
    * runaway curve is noise/mojibake. Exactness is NOT claimed (that is
    * q56's exact vocab aggregate, the gate anchor); q141 pins the
    * estimate inside its published ±5% envelope against the exact count. */
  def vocabSketch(docs: DataFrame, keys: Seq[String] = Seq("source"),
      lgK: Int = VocabLgK): DataFrame =
    docs.select((keys.map(col) :+
        explode(TextAnalysis.tokens(col("text"))).as("token")): _*)
      .groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col("token"), lgK).as("sketch"))

  def buildVocabIndex(docs: DataFrame, dir: String,
      keys: Seq[String] = Seq("source")): Unit =
    graft.pipeline.Store.republish(docs.sparkSession, s"$dir/vocab",
      "vocab build")(vocabSketch(docs, keys))

  /** Union a batch's sketches into the persisted index — the same
    * merge-by-union algebra the distributed aggregate already runs
    * across partitions, so append ≡ rebuild on the estimates. */
  def appendToVocabIndex(spark: SparkSession, dir: String, batch: DataFrame,
      keys: Seq[String] = Seq("source")): Unit =
    graft.pipeline.Store.republish(spark, s"$dir/vocab", "vocab append")(
      mergeVocab(readVocabIndex(spark, dir), vocabSketch(batch, keys), keys))

  def readVocabIndex(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Store.readRecoverableReadOnly(spark, s"$dir/vocab", "vocab read")

  /** Cardinality estimates from a (possibly just-read) sketch frame. */
  def vocabEstimate(index: DataFrame): DataFrame =
    index.withColumn("est_distinct_tokens",
      hll_sketch_estimate(col("sketch"))).drop("sketch")

  /** q141: per-source vocabulary cardinality — exact anchor + HLL bound
    * check, the q47 validation-harness contract (sketch bytes are
    * engine-specific, so the gate emits what IS cross-engine
    * deterministic: the exact counts and a boolean that the estimate
    * sits within max(5%, 2) of exact — HLL is deterministic for fixed
    * data, so the bound either always holds or never does, no flake). */
  val q141VocabCardinality: QuerySpec = QuerySpec(
    "q141_vocab_cardinality",
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT token) AS BIGINT) AS distinct_tokens,
      |  TRUE AS nd_ok
      |FROM tok GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val toks = Tables.documents(s, dir).select(col("source"),
      explode(TextAnalysis.tokens(col("text"))).as("token"))
    toks.groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("token")).as("distinct_tokens"),
        hll_sketch_agg(col("token"), VocabLgK).as("__sk"))
      .select(col("source"), col("n_tokens"), col("distinct_tokens"),
        (abs(hll_sketch_estimate(col("__sk")) - col("distinct_tokens"))
          .cast("double") <=
          greatest(col("distinct_tokens").cast("double") * 0.05, lit(2.0)))
          .as("nd_ok"))
      .orderBy("source")
  }

  // ---- value-bins index (persisted order-statistics state) --------------

  /** Merge algebra for value bins: counts sum per (g, v) — the same
    * commutative monoid the distributed aggregate already folds across
    * partitions, so append ≡ rebuild EXACTLY (integer counts, no
    * estimate envelope needed). */
  def mergeBins(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("g", "v").agg(sum(col("cnt")).as("cnt"))

  /** Persist the (g, v, cnt) value bins of an events frame — the
    * MAINTAINED form of the entire exact-order-statistics family:
    * medians/quantiles (q135/q136 via `medianFromBins` /
    * `quantilesFromBins`), KS/Mann–Whitney (q158/q159 via their own
    * typed bins), Gini (q164) and percentile ranks (q166) all re-derive
    * from bins alone, and THIS index keeps those bins current at
    * bins-cardinality cost per batch — never a corpus rescan. State is
    * bounded by the value DOMAIN (the `medianBins` contract), the price
    * of exactness a sketch index (q141's HLL, q119's CMS) avoids by
    * giving up exact ranks. Crash-safe through the shared
    * staging+backup publish. */
  def buildBinsIndex(events: DataFrame, dir: String): Unit =
    graft.pipeline.Store.republish(events.sparkSession, s"$dir/bins",
      "bins build")(graft.queries.Profiling.medianBins(events))

  def appendToBinsIndex(spark: SparkSession, dir: String,
      batch: DataFrame): Unit =
    graft.pipeline.Store.republish(spark, s"$dir/bins", "bins append")(
      mergeBins(readBinsIndex(spark, dir),
        graft.queries.Profiling.medianBins(batch)))

  def readBinsIndex(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Store.readRecoverableReadOnly(spark, s"$dir/bins",
      "bins read")

  /** q167: grouped exact medians answered from the PERSISTED bins index
    * — built from half the corpus, FOLDED forward with the other half,
    * then derived without touching the corpus again. The oracle is
    * q135's own flat sorted-rank SQL over the full table, so the gate
    * itself pins append ≡ rebuild ≡ the two-level rank selection: three
    * different routes to the same exact order statistic. */
  val q167BinsIndexMedian: QuerySpec = QuerySpec(
    "q167_bins_index_median",
    """WITH c AS (
      |  SELECT event_type, CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v
      |  FROM events),
      |s AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(ceil(count(*) / 2.0) AS BIGINT) AS k
      |  FROM c GROUP BY event_type),
      |r AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
      |  FROM c)
      |SELECT r.event_type, n, k, CAST(v AS DOUBLE) / 1e6 AS median
      |FROM r JOIN s ON r.event_type = s.event_type AND r.rn = s.k
      |ORDER BY r.event_type""".stripMargin) { (s, dir) =>
    val events = Tables.events(s, dir)
    val idx = java.nio.file.Files
      .createTempDirectory("graft_bins_idx").toString
    try {
      buildBinsIndex(events.filter(col("event_id") % 2 === 0), idx)
      appendToBinsIndex(s, idx, events.filter(col("event_id") % 2 === 1))
      val res = graft.queries.Profiling.medianFromBins(readBinsIndex(s, idx))
      // the derived medians are group-cardinality rows (one per
      // event_type) — localize them so the scratch index can be deleted
      // instead of leaking a bins copy into /tmp per invocation
      s.createDataFrame(
        java.util.Arrays.asList(res.collect(): _*), res.schema)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
      ()
    }
  }

  /** q145: skip-manifest-pruned range stats — the per-file manifest
    * ([[graft.pipeline.Store.buildSkipManifest]]) made load-bearing in a
    * registered query: the documents table is laid out range-partitioned
    * on doc_id, indexed, and a mid-range probe goes through
    * [[graft.pipeline.Store.skipPrunedScan]] so files whose [min,max]
    * box misses the range are never scheduled (PlanQualitySpec asserts
    * the scan's numFiles). Oracle = the plain filtered aggregate — the
    * pruning must be invisible to results. The only driver-side reads
    * are the 1-row max(doc_id) bound and the file-count-bounded manifest. */
  val q145ManifestPrunedStats: QuerySpec = QuerySpec(
    "q145_manifest_pruned_stats",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM documents
      |WHERE doc_id >= (SELECT max(doc_id) // 3 FROM documents)
      |  AND doc_id <= (SELECT max(doc_id) // 2 FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    prunedRangeStats(s, dir)._1
  }

  /** MD5 over a source directory's recursive (relative path, length,
    * mtime) listing — the cheap CONTENT identity for keyed caches: a
    * regenerated table at the same path changes mtimes/sizes, so cache
    * keys derived from this can never serve stale results the way a
    * path-only key can. Driver-side namenode listing — file-count
    * bounded, the partition-discovery metadata class. Round 12: walks
    * through the Hadoop FS API (resolved from the path's scheme), so the
    * fingerprint works against HDFS/S3A tables, not only the local FS. */
  private[graft] def dirFingerprint(s: SparkSession, path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val rootUri = fs.getFileStatus(root).getPath.toUri
    val entries = scala.collection.mutable.ArrayBuffer[String]()
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = rootUri.relativize(st.getPath.toUri).getPath
      entries += s"$rel|${st.getLen}|${st.getModificationTime}\n"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The q145 body, returning (result, prunedScanDf) so tests can assert
    * on the scan's file metrics without re-running the layout build.
    *
    * The indexed layout is CACHED per source table (one deterministic
    * directory, built once): the realistic shape is "the layout exists,
    * queries probe it", and the uncached form leaked a full corpus copy
    * into a fresh temp dir on every invocation — a bench or plan sweep
    * calls this many times per session. Keying, publish protocol, GC and
    * the cluster-true Hadoop-FS discipline live in [[CorpusCache]]
    * (round 12 — shared with the pair-frame cache; the two previously
    * carried forked copies of the policy, and the old `java.io.File`
    * rename under tmpdir was a local-FS-only construct). */
  private[graft] val Q145StaleGcGraceMs: Long = CorpusCache.StaleGcGraceMs

  /** q145 layout parameters — interpolated into BOTH the build and
    * [[Q145CodeToken]], so changing either cannot miss the token. */
  private[graft] val LayoutRangePartitions = 5
  private[graft] val LayoutSortCol = "doc_id"

  /** Code token for the q145 layout cache key: hashes the layout
    * parameters the artifact bakes in (range-partition count, sort/stat
    * column), so changing them invalidates published layouts instead of
    * silently serving frames laid out under the old scheme. */
  private[graft] val Q145CodeToken: String =
    CorpusCache.md5Hex(s"rp$LayoutRangePartitions|$LayoutSortCol|v1").take(8)

  def prunedRangeStats(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.pipeline.Store
    val docs = Tables.documents(s, dir)
    val fp = dirFingerprint(s, s"$dir/documents.parquet")
    val layout = CorpusCache.materialize(s, "graft_q145", dir, fp,
      Q145CodeToken, "layout", { stage =>
        docs.repartitionByRange(LayoutRangePartitions, col(LayoutSortCol))
          .sortWithinPartitions(LayoutSortCol)
          .write.mode("overwrite").parquet(s"$stage/docs")
        Store.buildSkipManifest(s, s"$stage/docs", stage, Seq(LayoutSortCol))
        val maxId = docs.agg(max("doc_id")).collect()(0).getLong(0) // 1-row bound
        val hfs = new org.apache.hadoop.fs.Path(stage)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        Store.writeSmall(hfs,
          new org.apache.hadoop.fs.Path(stage, "_MAXID"), maxId.toString)
      })
    val hfs = new org.apache.hadoop.fs.Path(layout)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val maxId = Store.readSmall(hfs,
      new org.apache.hadoop.fs.Path(layout, "_MAXID")).trim.toLong
    val pruned = Store.skipPrunedScan(s, s"$layout/docs", layout, LayoutSortCol,
      maxId / 3, maxId / 2)
    val stats = pruned.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("source")
    (stats, pruned)
  }

  // ---- streaming maintenance loop ---------------------------------------

  /** Merge algebra for vocab sketches (the [[appendToVocabIndex]] body,
    * shared with the streaming path): union + HLL-union per group. */
  def mergeVocab(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b).groupBy(keys.map(col): _*)
      .agg(hll_union_agg(col("sketch")).as("sketch"))

  /** At-least-once-safe application of ONE micro-batch's partials to a
    * maintained artifact. The discipline is [[graft.streaming.Streaming
    * .lateAuditStream]]'s, adapted to mergeable aggregates:
    *
    *  - the batch's partial aggregate lands in `<dir>/parts/batch=N` with
    *    OVERWRITE — a replay of batch N rewrites byte-identical content
    *    instead of double-counting (an in-place `appendTo*` fold would
    *    re-add the rows);
    *  - reads merge `base` (if any) with every partial whose batch id is
    *    ABOVE the base's `__upto` watermark — so a crashed compaction
    *    that published the base but not yet deleted the folded partials
    *    cannot double-count either: those partials are filtered out by
    *    the watermark, their deletion is pure garbage collection;
    *  - when live partials exceed `compactEvery`, all partials with
    *    batch ≤ N fold into a new base stamped `__upto = N` via the
    *    staging + backup atomic publish. Replaying batch N after its
    *    fold merges an empty partial set into the same base — a no-op
    *    publish of identical content.
    *
    * Partial count stays ≤ compactEvery, base is group-cardinality —
    * both index metadata; per batch the work is one partial aggregate
    * over the batch plus (amortized) one group-cardinality merge. */
  private[graft] def applyMaintenanceBatch(spark: SparkSession, dir: String,
      partial: DataFrame, batchId: Long, keys: Seq[String],
      merge: (DataFrame, DataFrame) => DataFrame,
      compactEvery: Int = 8): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // WRITER-side crash repair (single writer by contract): finish a swap
    // the previous writer crashed inside. Consumers never do this — see
    // Store.repairPublished for why repair is writer-only.
    graft.pipeline.Store.repairPublished(spark, s"$dir/base",
      "maintenance writer")
    // repartition(1): an all-rows-filtered micro-batch can reach the
    // writer as a ZERO-partition plan, which would write a file-less
    // directory that breaks parquet schema inference on read; one
    // (possibly empty) file always carries the schema. Partials are
    // group-cardinality metadata — one file is also the right size.
    partial.repartition(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/parts/batch=$batchId")
    def partBatches: Seq[Long] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/parts")
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong)
    }
    val upto: Long = readUpto(spark, dir)
    val live = partBatches.filter(b => b > upto && b <= batchId)
    if (live.size > compactEvery) {
      graft.pipeline.Store.publishAtomic(spark,
        readMaintained(spark, dir, keys, merge, upTo = Some(batchId))
          .withColumn("__upto", lit(batchId)).repartition(1),
        s"$dir/base", "maintenance fold")
      // GC: readers already ignore batches ≤ the new watermark
      partBatches.filter(_ <= batchId).foreach(b =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/parts/batch=$b"), true))
    }
  }

  private def readUpto(spark: SparkSession, dir: String): Long =
    graft.pipeline.Store.resolvePublished(spark, s"$dir/base") match {
      case None => -1L
      case Some(base) =>
        val r = spark.read.parquet(base).select(max(col("__upto"))).head()
        // a base folded ONLY from empty partials has rows=0 → NULL max.
        // Treating it as "no watermark" is safe: every partial at or
        // below the lost watermark was empty (that is WHY the base is
        // empty), so re-including a replayed one merges nothing and
        // cannot double-count.
        if (r.isNullAt(0)) -1L else r.getLong(0)
    }

  /** Consumer read of a stream-maintained artifact: base ∪ live partials,
    * merged. `upTo` caps which partials participate (the compaction path
    * uses it to fold a PREFIX while later batches keep arriving).
    *
    * Concurrency contract: this path is READ-ONLY — crashed-swap repair
    * belongs to the writer ([[applyMaintenanceBatch]]), because a reader
    * cannot distinguish a crashed publish from one in flight. Plain
    * parquet has no snapshot isolation, so a snapshot that materializes
    * WHILE a fold is publishing/GC-ing can observe vanished files — that
    * race is handled HERE: the whole snapshot (re-list base + partials,
    * re-read watermark, re-materialize) retries up to
    * [[ReadMaintainedAttempts]] times on a vanished-file failure, and
    * each retry sees the fold further along (the fold is monotone:
    * GC'd partials are below the NEW base's watermark), so a retry
    * never double-counts and the LAST attempt's failure is surfaced.
    * What is guaranteed: a consumer never mutates the writer's state
    * and never double-counts a partial. */
  def readMaintained(spark: SparkSession, dir: String, keys: Seq[String],
      merge: (DataFrame, DataFrame) => DataFrame,
      upTo: Option[Long] = None): DataFrame =
    readMaintainedRetrying(spark, dir, keys, merge, upTo, _ => ())

  /** Bounded retry budget for [[readMaintained]]'s snapshot: a fold
    * completes at most once per read window, so one re-list normally
    * suffices; 3 covers a compaction landing during the retry itself. */
  final val ReadMaintainedAttempts = 3

  /** A vanished-file failure anywhere in the cause chain: the signature
    * of a maintenance fold's publish/GC completing mid-materialization
    * (Spark wraps the task's FileNotFoundException in SparkException
    * layers; a vanished directory surfaces as PATH_NOT_FOUND). */
  private def isVanishedFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists {
      t =>
        t.isInstanceOf[java.io.FileNotFoundException] || {
          val m = t.getMessage
          m != null && (m.contains("FileNotFoundException") ||
            m.contains("PATH_NOT_FOUND") || m.contains("does not exist"))
        }
    }

  /** [[readMaintained]]'s snapshot loop with an injectable race hook
    * (test-only: called with the attempt number after the partials
    * listing, inside the window a racing fold's GC can hit). */
  private[graft] def readMaintainedRetrying(spark: SparkSession,
      dir: String, keys: Seq[String],
      merge: (DataFrame, DataFrame) => DataFrame,
      upTo: Option[Long], raceHook: Int => Unit): DataFrame = {
    def snapshot(attempt: Int): DataFrame = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val published = graft.pipeline.Store.resolvePublished(spark, s"$dir/base")
      val partsPath = new org.apache.hadoop.fs.Path(s"$dir/parts")
      val hasParts = fs.exists(partsPath) && fs.listStatus(partsPath).nonEmpty
      require(published.isDefined || hasParts,
        s"readMaintained: nothing published under $dir")
      // Base is materialized EAGERLY (localCheckpoint — group-cardinality
      // metadata) and its watermark is taken from THAT snapshot, never from
      // a separate scan: with two scans a compaction completing in between
      // could serve the NEW base content against the OLD watermark and
      // double-count not-yet-GC'd partials. Snapshot order matters too —
      // base FIRST, partials after: a fold racing this read can only make
      // partials vanish (ABOVE the snapshot's watermark → the retried
      // vanished-file failure), never reappear below it.
      val base = published.map(spark.read.parquet(_).localCheckpoint(true))
      val upto: Long = base match {
        case None => -1L
        case Some(b) =>
          val r = b.select(max(col("__upto"))).head()
          // all-empty-partials base → rows=0 → NULL max; see readUpto
          if (r.isNullAt(0)) -1L else r.getLong(0)
      }
      val parts =
        if (!hasParts) None
        else {
          // partials are metadata too (≤ compactEvery group-cardinality
          // frames) — snapshot them eagerly as well, so a racing fold's
          // GC is confined to THIS materialization (and one retry of it),
          // never to some later consumer action on a lazy plan
          val listed = spark.read.parquet(s"$dir/parts")
          raceHook(attempt)
          val live = listed
            .filter(col("batch") > upto &&
              upTo.map(col("batch") <= _).getOrElse(lit(true)))
            .drop("batch")
            .localCheckpoint(true)
          Some(live)
        }
      (base.map(_.drop("__upto")), parts) match {
        case (Some(b), Some(p)) => merge(b, p)
        case (Some(b), None) => b
        case (None, Some(p)) => merge(p, p.limit(0))
        case _ => sys.error("unreachable")
      }
    }
    var attempt = 1
    var out: Option[DataFrame] = None
    while (out.isEmpty) {
      try out = Some(snapshot(attempt))
      catch {
        case e: Throwable
            if attempt < ReadMaintainedAttempts && isVanishedFile(e) =>
          attempt += 1
      }
    }
    out.get
  }

  /** Per-batch value-bins partial over documents (g = source,
    * v = n_chars) — the document-corpus face of the [[mergeBins]]
    * monoid, so the maintained bins index can ride the same
    * [[applyMaintenanceBatch]] loop as the rollup and vocab artifacts
    * (the StreamingSpec capstone drives all three from one stream). */
  def docBins(docs: DataFrame): DataFrame =
    docs.select(col("source").as("g"), col("n_chars").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("cnt"))

  /** Read of a stream-maintained bins artifact under `dir`. */
  def readMaintainedBins(spark: SparkSession, dir: String): DataFrame =
    readMaintained(spark, s"$dir/bins", Seq("g", "v"), mergeBins)

  /** The registered pair, pre-wired: stats rollup + vocab index maintained
    * from one stream of document batches. `foreachBatch` is at-least-once;
    * [[applyMaintenanceBatch]] makes each artifact's state exactly-once. */
  def maintainStream(docs: DataFrame, dir: String, checkpoint: String,
      rollupKeys: Seq[String] = Seq("source", "lang"),
      vocabKeys: Seq[String] = Seq("source"),
      compactEvery: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.persist()
        try {
          applyMaintenanceBatch(s, s"$dir/rollup", statsRollup(b, rollupKeys),
            batchId, rollupKeys, mergeRollups(_, _, rollupKeys), compactEvery)
          applyMaintenanceBatch(s, s"$dir/vocab", vocabSketch(b, vocabKeys),
            batchId, vocabKeys, mergeVocab(_, _, vocabKeys), compactEvery)
        } finally { b.unpersist(); () }
      }
      .start()

  /** Reads of the two maintained artifacts under a [[maintainStream]] dir. */
  def readMaintainedRollup(spark: SparkSession, dir: String,
      keys: Seq[String] = Seq("source", "lang")): DataFrame =
    readMaintained(spark, s"$dir/rollup", keys, mergeRollups(_, _, keys))
  def readMaintainedVocab(spark: SparkSession, dir: String,
      keys: Seq[String] = Seq("source")): DataFrame =
    readMaintained(spark, s"$dir/vocab", keys, mergeVocab(_, _, keys))

  val all: Seq[QuerySpec] =
    Seq(q139StatsRollup, q140RollupDrift, q141VocabCardinality,
      q145ManifestPrunedStats, q167BinsIndexMedian)
}
