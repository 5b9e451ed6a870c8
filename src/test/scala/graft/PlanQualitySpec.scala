package graft

/** Physical-plan regression guards: the properties that make these queries
  * scale (pushdown, pruning, broadcast, top-k planning, exchange counts)
  * asserted against the explain output, so a refactor that silently turns
  * a broadcast join into a shuffle join or widens a scan fails CI. */
class PlanQualitySpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize AQE
    // AQE prints "== Final Plan ==" followed by "== Initial Plan ==";
    // assertions (especially operator counts) must see only the final one
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("q01: filter pushed to parquet, scan pruned to needed columns") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate filter not pushed:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_comment"),
      "scan reads columns the query never uses")
  }

  test("incremental upsert: current-bucket read-back prunes partitions at planning time") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("inc_plan").toString + "/orders"
    val seed = spark.range(0, 256)
      .selectExpr("concat('P-', id) AS order_id", "CAST(id AS DOUBLE) AS price",
        "timestamp'2024-01-01 00:00:00' AS ingested_at")
    graft.pipeline.Store.upsertOrdersIncremental(spark, seed, dir, numBuckets = 16)
    // the exact frame the next upsert's merge reads: current rows of the
    // touched buckets only — its scan must carry PartitionFilters, i.e.
    // prune directories BEFORE reading, not filter rows after
    val slice = spark.read.parquet(dir).filter(col("__bucket").isin(3, 7))
    val plan = slice.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__bucket"),
      s"bucket filter not applied as partition pruning:\n$plan")
    slice.collect()
    val scan = slice.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan"))
    val scanned = scan.metrics("numFiles").value
    val total = spark.read.parquet(dir).inputFiles.length
    assert(scanned < total,
      s"partition pruning read all $total files for a 2-bucket slice")
  }

  test("q145: skip-manifest pruning schedules strictly fewer files than the table holds") {
    val (stats, pruned) = graft.ext.Rollup.prunedRangeStats(spark, sf)
    assert(stats.count() > 0)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in the pruned plan"))
    val scanned = scan.metrics("numFiles").value
    // the layout is 5 range-partitioned files and the probe covers
    // [max/3, max/2] — at most 2 stripes overlap; 5 would mean the
    // manifest did no work
    assert(scanned > 0 && scanned < 5,
      s"manifest pruned nothing: scheduled $scanned of 5 files")
  }

  test("q62/q63: corpus ops stay single-scan — no self-joins or repeat reads") {
    // q62 packing: one documents scan, one exchange (on shard), one window
    val p62 = planOf("q62_sequence_packing")
    assert(p62.split("Scan parquet").length - 1 == 1,
      s"q62 scans documents more than once:\n$p62")
    // q63 funnel: the four rules + dedup keeper + funnel rows from ONE
    // corpus read — a per-stage implementation would scan 4×
    val p63 = planOf("q63_filter_funnel")
    assert(p63.split("Scan parquet").length - 1 == 1,
      s"q63 scans documents more than once:\n$p63")
    assert(!p63.contains("BroadcastNestedLoopJoin") && !p63.contains("CartesianProduct"))
  }

  test("q18: exact medians ride the rank selection — no single-task percentile buffer") {
    // round 14: the built-in percentile's TypedImperativeAggregate merges
    // a buffer holding every distinct value in ONE final task; a refactor
    // that reintroduces it must fail here
    val p = planOf("q18_numeric_summary")
    assert(!p.contains("percentile("),
      s"q18 re-grew the built-in percentile buffer merge:\n$p")
  }

  test("q47/q59: exact anchors from the value histogram — no countDistinct Expand") {
    // round 14: the old 3-way countDistinct expanded every row x4 through
    // the exchange; the histogram form must stay Expand-free
    for (q <- Seq("q47_approx_profile", "q59_approx_profile_orders")) {
      val p = planOf(q)
      assert(!p.contains("Expand"),
        s"$q re-grew the multi-countDistinct Expand:\n$p")
    }
  }

  test("q11/q13: keep-first dedup + declared order share ONE exchange + ONE sort") {
    // the r13 fusion: one repartitionByRange(order_id) satisfies BOTH the
    // dedup's clustered distribution and the output order — a refactor
    // that reintroduces the second shuffle/sort must fail here
    for (q <- Seq("q11_clean", "q13_full_transform")) {
      val p = planOf(q)
      // node prefixes vary with codegen ("+- *(5) Sort [...") — match the
      // operator name itself
      val exchanges = "- Exchange ".r.findAllIn(p).length
      val sorts = """- (\*\(\d+\) )?Sort \[""".r.findAllIn(p).length
      assert(exchanges == 1, s"$q: expected 1 shuffle Exchange, got $exchanges:\n$p")
      assert(sorts == 1, s"$q: expected 1 Sort, got $sorts:\n$p")
    }
  }

  test("q04: dimension joins broadcast, no cartesian fallback") {
    val p = planOf("q04_region_revenue")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), "cartesian fallback appeared")
  }

  test("q02: top-k plans as TakeOrderedAndProject, not global sort") {
    val p = planOf("q02_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not take-ordered:\n$p")
  }

  test("q08: raw keep-first window idiom gets the WindowGroupLimit trim") {
    // q08 deliberately spells the raw row_number()=1 idiom (the engine's
    // keyed dedup runs the native KeepFirstExec instead, pinned in
    // KeepFirstNativeSpec); it must at least plan the per-partition top-1
    // trim and a single hash exchange.
    val p = planOf("q08_dedup_key_keepfirst")
    assert(p.contains("WindowGroupLimit"), s"no per-key limit pushdown:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"dedup hash-shuffles $exchanges times:\n$p")
  }

  test("q41/q54: as-of join plans as one keyed window, no join, one hash shuffle") {
    // both queries run the union-tag AsOfJoin.asof: one window over the
    // key carries the latest right row forward. A join operator here
    // means the as-of degenerated to the candidate-pair blow-up, and a
    // second hash exchange breaks the one-shuffle-on-the-key shape.
    for (q <- Seq("q41_asof_join", "q54_asof_join_native")) {
      val p = planOf(q)
      assert(p.contains("Window ["), s"$q: no keyed window:\n$p")
      assert(!"(HashJoin|SortMergeJoin|NestedLoopJoin|CartesianProduct)".r
        .findFirstIn(p).isDefined, s"$q: as-of planned a join:\n$p")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges <= 1, s"$q: as-of hash-shuffles $exchanges times:\n$p")
    }
  }

  test("q49: grouped top-k keeps the WindowGroupLimit optimization") {
    val p = planOf("q49_grouped_topk")
    assert(p.contains("WindowGroupLimit"), s"per-group limit not pushed:\n$p")
  }

  test("q31: brute-force top-k broadcasts the query side") {
    val p = planOf("q31_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side not broadcast:\n$p")
  }

  test("q29: simhash pairs via banded equi-join, never a cartesian") {
    val p = planOf("q29_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"simhash candidate join degenerated to all-pairs:\n$p")
  }

  test("q65: eval gram set broadcasts; the train corpus is never shuffle-joined") {
    val p = planOf("q65_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval-set probe not a broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"train corpus shuffle-joined on the gram — eval side must broadcast:\n$p")
    // two hash exchanges allowed: the eval-side distinct (benchmark-suite-
    // sized) and the per-doc aggregate. A gram-keyed join would add a
    // corpus-sized third.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected ≤2 exchanges, got $exchanges:\n$p")
  }

  test("q66/q67: redaction and repetition metrics are scan-local — no added shuffles") {
    val p66 = planOf("q66_pii_redact")
    // the orders-domain joins are expected; redaction itself must add none
    assert(!p66.contains("CartesianProduct"))
    val p67 = planOf("q67_repetition_filter")
    // only the final presentation sort may shuffle; any hashpartitioning
    // exchange means the metrics stopped being per-row expressions
    assert(!p67.contains("Exchange hashpartitioning"),
      s"q67 repetition metrics must be scan-local, found a shuffle:\n$p67")
  }

  test("q68: per-doc top-3 gets WindowGroupLimit; df and corpus count broadcast") {
    val p = planOf("q68_tfidf_terms")
    assert(p.contains("WindowGroupLimit"), s"top-3 not group-limited:\n$p")
    assert(p.contains("BroadcastExchange"), s"df/corpus-count not broadcast:\n$p")
  }

  test("q69: snapshot diff is one key-partitioned full-outer join") {
    val p = planOf("q69_snapshot_diff")
    assert(p.contains("FullOuter"), s"diff lost its full-outer shape:\n$p")
    // the diff itself must stay an equi-join on the key; the ONE allowed
    // nested-loop is the 1-row insert-offset aggregate riding a broadcast
    // crossJoin (Snapshot.nextOrdersSnapshot derives the offset from
    // max(o_orderkey) so cloned keys can't collide at any SF)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"full-outer diff must be a key equi-join:\n$p")
    assert(!p.contains("CartesianProduct"))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"expected at most the 1-row offset broadcast, got $bnlj:\n$p")
  }

  test("q71: batch admit probes the corpus — batch side broadcast, corpus never shuffle-joined") {
    val p = planOf("q71_incremental_dedup")
    assert(!p.contains("SortMergeJoin"),
      s"corpus side shuffle-joined — every join must broadcast the batch side:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast probe found:\n$p")
  }

  test("q75: corpus build composes without cartesian fallbacks") {
    val p = planOf("q75_corpus_build")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"a stage of the build degenerated to all-pairs:\n$p")
  }

  test("q80: frequent-span filter probes via broadcast anti join") {
    val p = planOf("q80_span_dedup")
    // the corpus span stream must not shuffle for the boilerplate filter —
    // the frequent set is small by definition and must broadcast
    assert("""BroadcastHashJoin .*LeftAnti""".r.findFirstIn(p).isDefined,
      s"frequent-span probe is not a broadcast anti join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q82: winnow pair join excludes hot fingerprints via broadcast anti-probe") {
    val p = planOf("q82_winnow_fingerprints")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"winnow candidate join degenerated to all-pairs:\n$p")
    // at the spec SF no fingerprint exceeds the 64-doc cap, so AQE
    // rightly ELIMINATES the empty anti join from q82's final plan; cap 2
    // makes the hot set non-empty (39 fps at sf0.001) while df=2 pairs
    // survive, so both joins materialize and the shape is observable
    val forced = graft.ext.Dedup.winnowPairs(
      Tables.documents(spark, sf), minShared = 1, maxDocFreq = 2)
    forced.collect()
    val fp = forced.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("""BroadcastHashJoin .*LeftAnti""".r.findFirstIn(fp).isDefined,
      s"hot-fingerprint exclusion must broadcast, not shuffle the selection:\n$fp")
  }

  test("q77: banded manifest joins on band keys, never a shingle self-join") {
    // the exact form's candidate stage shuffles the kept set on the
    // shingle TEXT (O(pairs-sharing-a-shingle) — the test-scale plan);
    // the banded form must replace that with the fixed-width signature
    // band equi-join, or the capstone still ships the quadratic stage
    val p77 = planOf("q77_corpus_build_banded")
    assert(!p77.contains("BroadcastNestedLoopJoin") && !p77.contains("CartesianProduct"),
      s"a stage of the banded build degenerated to all-pairs:\n$p77")
    // join keys render as e.g. "BroadcastHashJoin [shingle#…]" /
    // "SortMergeJoin [shingle#…]" — match the key list, not the exchange
    // (at the tiny spec SF the join may broadcast and never shuffle)
    val shingleJoin = """Join \[shingle""".r
    assert(shingleJoin.findFirstIn(p77).isEmpty,
      s"shingle self-join leaked into the banded plan:\n$p77")
    assert(p77.contains("band_key"), s"band equi-join missing:\n$p77")
    // contrast guard: the exact form DOES join on the shingle — if this
    // ever stops holding, the two strategies no longer differ and the
    // assertions above prove nothing
    val p75 = planOf("q75_corpus_build")
    assert(shingleJoin.findFirstIn(p75).isDefined,
      s"exact form no longer joins on shingles — update this guard:\n$p75")
  }

  test("q70: anomaly window is chunked — partitioned by (event_type, blk), not event_type alone") {
    val p = planOf("q70_anomaly_zscore")
    // the trailing window must hash on BOTH keys: a window partitioned by
    // the ~5-value event_type alone caps parallelism at 5 tasks — each
    // type's whole history in one sort (the 100× skew cliff this
    // decomposition removes)
    assert("""hashpartitioning\(event_type#\d+, blk#""".r.findFirstIn(p).isDefined,
      s"trailing window not chunked by (event_type, blk):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"block-metadata mapping degenerated to all-pairs:\n$p")
    // the preamble replication joins the EVENTS against the tiny block
    // map — that side must broadcast, never shuffle the events for it
    assert(p.contains("BroadcastHashJoin"), s"block map not broadcast:\n$p")
    // fixture: the chunking is real at this SF — more window partitions
    // than event types, including >1 block for a single type
    import org.apache.spark.sql.functions.{col, countDistinct, floor, unix_timestamp}
    val blocks = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(countDistinct(floor(unix_timestamp(col("ts")) /
        graft.queries.Advanced.AnomalyBlockSeconds)).as("n_blocks"))
      .collect().map(_.getAs[Long]("n_blocks"))
    assert(blocks.forall(_ > 1),
      s"every event_type must span >1 block for the guard to mean anything: ${blocks.toSeq}")
  }

  test("q87: cap's phase-1 window hashes on (source, bucket), not source alone") {
    val p = planOf("q87_source_cap")
    // two-phase top-K: the first (full-corpus) window must partition by
    // BOTH keys — a single source-partitioned window over the corpus is
    // the low-cardinality skew cliff the operator exists to avoid
    assert("""hashpartitioning\(source#\d+, bucket#""".r.findFirstIn(p).isDefined,
      s"phase-1 window not bucketed:\n$p")
    // both windows get the rank<=k WindowGroupLimit trim — neither phase
    // sorts rows it will immediately discard
    val trims = "WindowGroupLimit".r.findAllIn(p).length
    assert(trims >= 2, s"expected both cap windows trimmed, got $trims:\n$p")
    assert(!p.contains("CartesianProduct"), s"cap plan degenerated:\n$p")
  }

  test("q90: overlap matrix inherits the banded pair join — no cartesian anywhere") {
    // since round 11 the candidates come from the materialized pair-frame
    // cache, so q90's own plan is a pair-frame scan + the two label
    // joins + one aggregate — still no all-pairs fallback allowed...
    val p = planOf("q90_source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap matrix degenerated to all-pairs:\n$p")
    // ...and the band equi-join lives in the cache BUILDER's plan: the
    // fresh minhashCandidates chain must join on the band keys, never
    // all-pairs (this is the plan the one-time build per corpus
    // fingerprint executes)
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val bp = graft.ext.Dedup.minhashCandidates(docs, 0.0)
      .queryExecution.executedPlan.toString
    assert(!bp.contains("CartesianProduct") &&
      !bp.contains("BroadcastNestedLoopJoin"),
      s"pair-frame build degenerated to all-pairs:\n$bp")
    assert("""band_key""".r.findFirstIn(bp).isDefined,
      s"no banded join key in the build's candidate stage:\n$bp")
  }

  test("q91: the apply pass is one scan, join-free (rates fold to literals)") {
    // the rate pass runs eagerly at build time (driver-reduced metadata);
    // the query's own plan is ONLY the apply pass — which must be a
    // scan-local projection + explode + the summary agg, no joins and no
    // second corpus read (the broadcast-join form planned a third full
    // scan just for the corpus-total row)
    val p = planOf("q91_token_mixture")
    assert(!p.contains("Join"), s"apply pass must be join-free:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected one documents scan in the apply pass, got $scans:\n$p")
  }

  test("q96: bpe encode apply pass is join-free, one corpus scan (merges fold to literals)") {
    // merge induction runs eagerly at build time (bounded tokenizer
    // metadata, driver-collected like the IVF centroids); the encode
    // plan itself must be a pure scan-local projection
    val p = planOf("q96_bpe_encode")
    assert(!p.contains("Join"), s"encode pass must be join-free:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected one documents scan in the encode pass, got $scans:\n$p")
  }

  test("q97: recall audit candidate joins stay hash joins — no cartesian fallback") {
    // the exact baseline legitimately broadcasts the query panel (q31's
    // BroadcastNestedLoopJoin idiom); the LSH/IVF candidate generation
    // must remain (table,bucket)/(cell_id) equi-joins
    val p = planOf("q97_ann_recall")
    assert(!p.contains("CartesianProduct"),
      s"recall audit degenerated to a cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"no equi-join in the candidate stages:\n$p")
  }

  test("q98: decontamination probes cell-scoped — eval broadcast, no cartesian pair scan") {
    val p = planOf("q98_semantic_decontaminate")
    assert(!p.contains("CartesianProduct"),
      s"eval x corpus degenerated to a cartesian:\n$p")
    // the eval-side vector attach must broadcast (eval bounded by
    // contract); the only nested-loop joins allowed are the 16-row
    // centroid broadcasts of the cell assignment
    assert(p.contains("BroadcastHashJoin"),
      s"eval attach not a broadcast hash join:\n$p")
  }

  test("q99: dhash near-dup pairs via banded equi-join, never a cartesian") {
    val p = planOf("q99_media_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dhash pair mining degenerated to all-pairs:\n$p")
    // the executed AQE plan collapses materialized stages to references,
    // hiding the join subtree — assert the band join key on the pre-AQE
    // physical plan, where the candidate equi-join prints in full
    val df = SparkEntry.queries("q99_media_neardup")(spark, sf)
    val pre = df.queryExecution.sparkPlan.toString
    assert("""band_val""".r.findFirstIn(pre).isDefined,
      s"no banded join key in the candidate stage:\n$pre")
    assert(!pre.contains("CartesianProduct"))
  }

  test("q101: resume carries per-shard state via broadcast; windows stay shard-partitioned") {
    val p = planOf("q101_packing_resume")
    assert("""hashpartitioning\(shard""".r.findFirstIn(p).isDefined,
      s"packing windows not partitioned by shard:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"per-shard end-offset state not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q102: contamination card composes the detectors' audited shapes — no cartesian") {
    val p = planOf("q102_contamination_card")
    assert(!p.contains("CartesianProduct"),
      s"a detector degenerated to a cartesian inside the card:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"eval-side sets not broadcast in the card:\n$p")
  }

  test("q103: snapshots meet only at bin cardinality — no row-level join") {
    val p = planOf("q103_corpus_drift")
    // the drift join is the full-outer on (dimension, bin); a doc_id join
    // key anywhere means the snapshots were joined row-level
    assert(p.contains("FullOuter"), s"bin-level full-outer join missing:\n$p")
    assert(!"""Join.*doc_id#\d+L?\]?,? ?(Full|Inner|Left|Right)""".r
      .findFirstIn(p).isDefined, s"row-level snapshot join appeared:\n$p")
    // totals ride 1-row broadcasts, quality binning is scan-local: the
    // only exchanges are the two per-dimension count aggregates + the
    // bin join's — never a doc_id hash partition
    assert(!"""hashpartitioning\(doc_id""".r.findFirstIn(p).isDefined,
      s"a doc_id exchange appeared in the drift plan:\n$p")
  }

  test("q104: per-cell pick trims map-side; cell sizes broadcast back") {
    val p = planOf("q104_cell_balanced_sample")
    assert(p.contains("WindowGroupLimit"),
      s"per-cell cap not trimmed before the exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"cell sizes / centroids not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cartesian appeared in cell assignment:\n$p")
  }

  test("q105: efficiency audit adds only aggregates to the q62 packing plan") {
    val p = planOf("q105_packing_efficiency")
    assert(p.split("Scan parquet").length - 1 == 1,
      s"audit scans documents more than once:\n$p")
    assert("""hashpartitioning\(shard""".r.findFirstIn(p).isDefined,
      s"packing window not shard-partitioned:\n$p")
    assert(!p.contains("Join"), s"the audit must be join-free:\n$p")
  }

  test("q106/q107: exact sides stay equi-joins — no cartesian anywhere") {
    Seq("q106_minhash_recall", "q107_quality_keeper").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to all-pairs:\n$p")
    }
  }

  test("q108: fertility is one scan + one lang aggregate — merge table stays literal") {
    val p = planOf("q108_tokenizer_fertility")
    assert(p.split("Scan parquet").length - 1 == 1,
      s"encode scans documents more than once:\n$p")
    assert(!p.contains("Join"), s"fertility must be join-free:\n$p")
  }

  test("q110: boilerplate top-k plans as TakeOrderedAndProject") {
    val p = planOf("q110_boilerplate_spans")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q111: snapshots meet at label cardinality — never on vec_id") {
    val p = planOf("q111_embedding_drift")
    assert(!"""hashpartitioning\(vec_id""".r.findFirstIn(p).isDefined,
      s"a vec_id exchange appeared in the drift plan:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q112: negative re-rank trims map-side; no cartesian") {
    val p = planOf("q112_hard_negatives")
    assert(p.contains("WindowGroupLimit"),
      s"re-rank window not trimmed before the exchange:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q113/q114: audit compositions stay cartesian-free") {
    Seq("q113_ann_mrr", "q114_dedup_card").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q grew a cartesian:\n$p")
    }
  }

  test("q115: retention shuffles on user_id — no window, no cartesian") {
    val p = planOf("q115_retention_cohorts")
    assert("""hashpartitioning\(user_id""".r.findFirstIn(p).isDefined,
      s"cohort join not partitioned on the user key:\n$p")
    assert(!p.contains("Window"), s"retention must not window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q116: quality calibration is one scan, join-free") {
    val p = planOf("q116_source_quality_quantiles")
    assert(p.split("Scan parquet").length - 1 == 1,
      s"calibration scans documents more than once:\n$p")
    assert(!p.contains("Join"), s"calibration must be join-free:\n$p")
  }

  test("q117: session path top-k plans as TakeOrdered over user-partitioned windows") {
    val p = planOf("q117_session_paths")
    assert(p.contains("TakeOrderedAndProject"),
      s"path top-k fell back to a global sort:\n$p")
    assert("""hashpartitioning\(user_id""".r.findFirstIn(p).isDefined,
      s"session windows not user-partitioned:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q118: release ledger ships the banded near-dup stage — no shingle self-join") {
    val p = planOf("q118_release_ledger")
    assert(!p.contains("CartesianProduct"),
      s"a ledger stage degenerated to all-pairs:\n$p")
    assert("""Join \[shingle""".r.findFirstIn(p).isEmpty,
      s"shingle self-join leaked into the ledger:\n$p")
    assert(p.contains("band_key"), s"band equi-join missing:\n$p")
  }

  test("q119: sketch rides broadcast joins; top-k plans as TakeOrdered") {
    val p = planOf("q119_cms_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"d x w sketch not broadcast into the probe:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"heavy-hitter top-k fell back to a global sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q120: final power round aggregates at dim cardinality — no cartesian") {
    val p = planOf("q120_top_component")
    assert("""hashpartitioning\(dim_idx""".r.findFirstIn(p).isDefined,
      s"per-dimension aggregate exchange missing:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q121: bm25 never shuffles the corpus — scan-local tf, broadcast stats, TakeOrdered") {
    val p = planOf("q121_bm25_search")
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 top-k fell back to a global sort:\n$p")
    // tf/dl are string expressions and stats are a 1-row broadcast: the
    // only exchanges allowed are the single-partition stats fold — a
    // hash-partitioned exchange means a (doc, token) shuffle crept in
    assert("""hashpartitioning""".r.findFirstIn(p).isEmpty,
      s"bm25 shuffled the corpus:\n$p")
    assert(!p.contains("Generate"), s"bm25 must not explode tokens:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q122: dsir ratio table broadcasts into the token probe") {
    val p = planOf("q122_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket ratio table not broadcast:\n$p")
    assert("""hashpartitioning\(doc_id""".r.findFirstIn(p).isDefined,
      s"per-doc aggregate exchange missing:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q123: JL panel filter pushed to the scan; pair join is broadcast") {
    val p = planOf("q123_jl_distortion")
    assert(p.contains("PushedFilters") && p.contains("LessThan(vec_id"),
      s"panel bound not pushed into the embeddings scan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bounded pair panel should broadcast one side:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q125: exact-k sample is scan + TakeOrdered — no global sort, no shuffle") {
    val p = planOf("q125_exact_k_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k fell back to a global sort:\n$p")
    assert(!p.contains("hashpartitioning") && !p.contains("rangepartitioning"),
      s"exact-k sample must not shuffle the corpus:\n$p")
  }

  test("q126: collocations broadcast the unigram sides; top-k plans as TakeOrdered") {
    val p = planOf("q126_collocations")
    assert(p.contains("BroadcastHashJoin"),
      s"unigram tables not broadcast into the pair frame:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"PMI top-k fell back to a global sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q130: dictionary broadcasts; per-probe argmin is a window group limit") {
    val p = planOf("q130_entity_resolution")
    assert(p.contains("BroadcastHashJoin"),
      s"name dictionary not broadcast into the probe scan:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-probe argmin sorts rows it discards:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("AQE splits a skewed join partition (the runtime half of the salting story)") {
    // the README's skew answer is two-layer: hashSalt for aggregations
    // (PropertySpec) and AQE's skew-join split for joins — this proves the
    // second actually fires on a planted 90%-hot key, with the thresholds
    // a real cluster would size to its partition budget
    val s = spark
    def withConf[T](pairs: (String, String)*)(body: => T): T = {
      val old = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
      pairs.foreach { case (k, v) => s.conf.set(k, v) }
      try body
      finally old.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import s.implicits._
      // left: 90% of 6k rows on one hot key (its shuffle partition crosses
      // the 32KB threshold; the others stay tiny); right: mostly-unique
      // keys with a small hot slice so the join output stays bounded
      val left = s.range(0, 6000)
        .selectExpr("CASE WHEN id % 10 < 9 THEN 7L ELSE id END AS k",
          // incompressible payload: shuffle sizes are post-compression,
          // and range-generated longs compress below the skew threshold
          "concat(md5(CAST(id AS STRING)), md5(CAST(id * 7 AS STRING))) AS payload")
      val right = s.range(0, 200)
        .selectExpr("CASE WHEN id % 10 = 0 THEN 7L ELSE id + 1000000 END AS k",
          "id * 2 AS rv")
      val joined = left.join(right, "k")
      joined.collect() // materialize so AQE finalizes THIS execution
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the hot partition:\n$plan")
    }
  }

  test("q134: exact median never globally sorts corpus rows") {
    val p = planOf("q134_exact_median")
    // rank selection replaces the global sort: no range-partitioned
    // exchange may appear anywhere in the plan
    assert(!p.contains("rangepartitioning"),
      s"two-level median fell back to a global sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q136: grouped quantiles inherit the sort-free rank selection; one histogram serves all ranks") {
    val p = planOf("q136_grouped_exact_quantiles")
    // the output orderBy is allowed to range-partition its ≤ groups×ranks
    // result rows; corpus-side the selection must stay sort-free, which
    // shows up as: no rangepartitioning on the quantized value column
    assert(!p.contains("rangepartitioning(v#"),
      s"rank selection range-partitioned corpus values:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q137: interpolating percentiles stay sort-free and cartesian-free") {
    val p = planOf("q137_percentiles_scalable")
    assert(!p.contains("rangepartitioning(v#"),
      s"rank selection range-partitioned corpus values:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q138: zone map is one scan, one block-cardinality aggregate — no joins") {
    val p = planOf("q138_zone_map")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"zone map must scan documents once, got $scans:\n$p")
    assert(!p.contains("Join"), s"zone map must be join-free:\n$p")
  }

  test("q139: stats rollup is one scan, one grouped aggregate — no joins, no global sort of rows") {
    val p = planOf("q139_stats_rollup")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"rollup must scan documents once, got $scans:\n$p")
    assert(!p.contains("Join"), s"rollup must be join-free:\n$p")
    // partial_count/sum/min/max before the exchange = map-side combine
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"rollup lost its map-side partial aggregation:\n$p")
  }

  test("q140: drift probe joins group-cardinality partials only — no cartesian") {
    val p = planOf("q140_rollup_drift")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"drift probe plan degenerated:\n$p")
  }

  test("q142: join-size probe scans each side once; bucket histograms fold the per-key counts") {
    val p = planOf("q142_join_size_probe")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2,
      s"probe should reuse per-key aggregates, not rescan (got $scans scans):\n$p")
    assert(!p.contains("CartesianProduct"), s"probe degenerated:\n$p")
  }

  test("q143: one window spec serves all five rank functions — single sort, single exchange") {
    val p = planOf("q143_rank_windows")
    val windows = "Window ".r.findAllIn(p).length
    assert(windows == 1,
      s"rank family must share ONE window operator, got $windows:\n$p")
    // exactly ONE hash exchange (the priority partition) — a second
    // would mean the five functions stopped sharing the window spec
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"rank family should shuffle once, got $exchanges:\n$p")
  }

  test("q144: both frame specs ride one window operator and one exchange") {
    val p = planOf("q144_frame_windows")
    val windows = "Window ".r.findAllIn(p).length
    assert(windows == 1,
      s"frame family must share ONE window operator, got $windows:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"frame family should shuffle once, got $exchanges:\n$p")
  }

  test("q156: MAD inherits the sort-free rank selection for BOTH cut passes") {
    val p = planOf("q156_mad_outliers")
    // median and MAD both resolve through bucketed selection: no
    // range-partitioned exchange of corpus values anywhere (the output
    // orderBy ranges over ≤ groups result rows, never over v)
    assert(!p.contains("rangepartitioning(v#"),
      s"MAD selection range-partitioned corpus values:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q157: sliding distinct merges day-level HLL partials; no nested-loop join") {
    val p = planOf("q157_sliding_distinct")
    // the production path must be real in the plan: day partials built by
    // hll_sketch_agg, windows answered by hll_union_agg over partials
    assert(p.contains("hll_sketch_agg"), s"day partials missing:\n$p")
    assert(p.contains("hll_union_agg"), s"window partial-merge missing:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"sliding-window expansion degenerated:\n$p")
  }

  test("q158: KS reads the corpus exactly once; everything after is domain-bounded metadata") {
    val p = planOf("q158_ks_drift")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"KS must scan events once, got $scans:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"KS plan degenerated:\n$p")
    // the totals must ride the same window pass, not a second aggregate
    val windows = "Window ".r.findAllIn(p).length
    assert(windows == 1, s"ECDF + totals must share ONE window, got $windows:\n$p")
  }

  test("q159: Mann–Whitney shares the one-scan bins/window shape") {
    val p = planOf("q159_mann_whitney")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"MWU must scan events once, got $scans:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"MWU plan degenerated:\n$p")
  }

  test("q160: equi-depth boundaries come from the rank selection; assignment is scan-local") {
    val p = planOf("q160_equidepth_hist")
    assert(!p.contains("rangepartitioning(v#"),
      s"decile cuts range-partitioned corpus values:\n$p")
    // assignment folds nine literals — no join may appear in the final
    // bucket-count pass
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"cut assignment joined instead of folding literals:\n$p")
  }

  test("q175: basket self-join stays an equi-join; no cartesian, no nested loop") {
    val p = planOf("q175_assoc_rules")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"q175 degenerated to an all-pairs product:\n$p")
  }

  test("q170: iteration never broadcasts the O(nodes) score frame; edges served from cache") {
    import org.apache.spark.sql.functions.col
    val op = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("part"))
      .distinct()
    val (result, edges) = graft.queries.Advanced.pageRankPlan(spark, op)
    try {
      result.collect() // finalize AQE
      // walk the FINAL operator tree (through AQE stages). The edge-BUILD
      // subplan hides behind the InMemoryTableScan leaf — its one-time
      // broadcast is scale-adaptive and not part of the iterations.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def ops(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
        case q: QueryStageExec => q +: ops(q.plan)
        case other => other +: other.children.flatMap(ops)
      }
      val nodes = ops(result.queryExecution.executedPlan)
      val names = nodes.map(_.getClass.getSimpleName)
      // node cardinality is corpus-proportional — a broadcast of the score
      // frame is the one plan shape that cannot survive a 100x scale-up
      assert(!names.exists(_.startsWith("Broadcast")),
        s"q170 iterations broadcast per-iteration state: $names")
      assert(!names.contains("CartesianProductExec"),
        s"q170 degenerated to an all-pairs product: $names")
      assert(names.contains("ShuffledHashJoinExec"),
        s"q170 iterations lost the shuffle-hash score join: $names")
      assert(names.contains("InMemoryTableScanExec"),
        s"q170 re-derives the edge list instead of reading the cache: $names")
      // the edge BUILD pays exactly ONE exchange after the self-join
      // (round 11): repartition(src) first, then the (src, dst) dedup and
      // the out-degree window both reuse that partitioning — a subset
      // hash partitioning satisfies their clustered distributions. The
      // earlier distinct-then-repartition order shuffled the edges twice.
      val buildPlan = edges.queryExecution.executedPlan.toString
      // round 14: the build width is scale-derived (one partition per
      // ~1 MB of membership-frame estimate, with x4 pair fan-out
      // headroom), so at test SF the src exchange degenerates to
      // SinglePartition — still one src-colocating exchange
      assert("Exchange hashpartitioning\\(src#\\d+L, \\d".r
        .findFirstIn(buildPlan).isDefined ||
        buildPlan.contains("Exchange SinglePartition"),
        s"edge build lost its src repartition:\n$buildPlan")
      assert("Exchange hashpartitioning\\(src#\\d+L, dst".r
        .findFirstIn(buildPlan).isEmpty,
        s"edge build re-grew the second (src, dst) dedup exchange — the " +
          s"(src, dst) aggregate and the out-degree window must both " +
          s"reuse the src repartitioning:\n$buildPlan")
    } finally { edges.unpersist(); () }
  }

  test("q180: date cut pushed to the orders scan, top-k early-stops, no twice-derived pipeline") {
    val p = planOf("q180_topk_churn")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter lost the per-partition top-k early-stop:\n$p")
    assert(!p.contains("FullOuter"),
      s"q180 re-grew the twice-derived full-outer branch plan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") ||
      p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"two-year cut not pushed to the orders scan:\n$p")
  }

  test("q171/q172: single-sort window plans — TWAP one exchange, frontier shares its sort") {
    val p1 = planOf("q171_twap")
    assert("Exchange hashpartitioning".r.findAllIn(p1).length == 1,
      s"TWAP should shuffle once on event_type:\n$p1")
    val p2 = planOf("q172_pareto_frontier")
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"),
      s"skyline fell back to the quadratic self-join:\n$p2")
    // the PAIR-frame dominance windows must partition by the price
    // stripe — an unpartitioned window there is a single task holding
    // (potentially) corpus-cardinality distinct pairs
    assert(p2.contains("windowspecdefinition(__bucket"),
      s"skyline pair windows lost their stripe partitioning:\n$p2")
  }

  test("q174: header/lines reconciliation is one shuffle join, aggregates pushed map-side") {
    val p = planOf("q174_reconciliation")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"reconciliation plan degenerated:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"line aggregate lost its map-side combine:\n$p")
  }

  test("runtime bloom filter: a selective dim filter injects a bloom probe into the fact side") {
    // the third 100 TB join lever next to broadcast and AQE skew-split:
    // when a shuffle join's small side carries a selective filter, Spark's
    // InjectRuntimeFilter builds a bloom filter over its join keys and
    // probes it INSIDE the fact side's scan stage, dropping non-matching
    // rows before the exchange. Thresholds here are scaled down the same
    // way the skew test scales its partition budget; a real cluster hits
    // the defaults (10MB creation side / 10GB application side).
    val s = spark
    def withConf[T](pairs: (String, String)*)(body: => T): T = {
      val old = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
      pairs.foreach { case (k, v) => s.conf.set(k, v) }
      try body
      finally old.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.functions.{col, sum}
      val fact = Tables.lineitem(s, sf)
      val dim = Tables.orders(s, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_quantity")).as("q"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"no bloom runtime filter injected on the fact side:\n$opt")
      joined.collect() // and the plan still executes correctly with it
    }
  }

  test("q89: epoch shuffle is one scan, one shard-partitioned window") {
    val p = planOf("q89_epoch_shuffle")
    assert("""hashpartitioning\(shard#\d+""".r.findFirstIn(p).isDefined,
      s"shuffle order window not partitioned by shard:\n$p")
    // scan-local shard+ord assignment: exactly one documents scan and no
    // joins — the operator adds one exchange (the shard partition), period
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected a single documents scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"epoch shuffle must be join-free:\n$p")
  }
}
