package graft

import graft.functions.Functions
import graft.pipeline.{Clean, Enrich, Store}
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.2): ScalaCheck generators with
  * fixed seeds (the scalatestplus Checkers bridge isn't in the offline
  * cache, so samples are drawn explicitly — still generative, still
  * deterministic). */
class PropertySpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("round2 is idempotent and within half a cent (property, 500 samples)") {
    import spark.implicits._
    // evaluate the PRODUCT expression through Spark, not a re-implemented
    // local formula — a regression in Functions.round2 must fail here
    val rows = samples(Gen.chooseNum(-1e9, 1e9), 500).toDF("d")
      .select(col("d"), Functions.round2(col("d")).as("r"),
        Functions.round2(Functions.round2(col("d"))).as("rr"))
      .collect()
    rows.foreach { row =>
      val (d, r, rr) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
      assert(r == rr, s"not idempotent at $d")
      assert(math.abs(r - d) <= 0.005 + math.ulp(d) * 100, s"drift at $d")
    }
  }

  test("near-dup clusters match a driver-side union-find on random graphs (differential)") {
    import spark.implicits._
    // per-frame seeds (replaying Seed(0) per draw was a past test bug)
    val graphGen = for {
      n <- Gen.chooseNum(2, 40)
      m <- Gen.chooseNum(1, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong - 1)
        b <- Gen.chooseNum(0L, n.toLong - 1) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield edges.distinct
    samples(graphGen, 25).zipWithIndex.foreach { case (edges, i) =>
      if (edges.nonEmpty) {
        // reference: classic union-find with path compression
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        // representative = MINIMUM member id per component, like the operator
        val expected = nodes.groupBy(find).flatMap { case (_, members) =>
          val rep = members.min
          members.map(_ -> rep)
        }
        val got = ext.Dedup.clustersFromPairs(
          edges.toDF("doc_a", "doc_b"), maxIters = 50).collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
        assert(got == expected, s"graph #$i diverged: edges=$edges")
        // the star-contraction form must agree on the same graphs — the
        // two operators are documented as interchangeable
        val star = ext.Dedup.clustersFromPairsStar(
          edges.toDF("doc_a", "doc_b")).collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
        assert(star == expected, s"graph #$i star diverged: edges=$edges")
      }
    }
  }

  test("star contraction collapses a deep chain the label loop's budget cannot") {
    import spark.implicits._
    // a 60-hop duplication chain: min-label propagation moves the label
    // one hop per round (needs ~60), star contraction needs O(log 60)
    val chain = (0L until 60L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    val star = ext.Dedup.clustersFromPairsStar(chain).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    assert(star == (0L until 60L).map(_ -> 0L).toMap)
    intercept[RuntimeException] {
      ext.Dedup.clustersFromPairs(chain, maxIters = 10)
    }
  }

  test("CDC applyDelta matches a driver-side keyed map over random delta sequences (differential)") {
    // reference: a plain Map[key -> price] mutated per classified change;
    // the store must agree after EVERY applied delta, including buckets
    // that empty and later repopulate
    val dir = Files.createTempDirectory("cdc_prop").toString + "/orders"
    val schema = StructType(Seq(
      StructField("order_id", StringType), StructField("price", DoubleType),
      StructField("ingested_at", TimestampType)))
    def df(rows: Seq[(String, Double, String)]) = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, p, t) =>
        Row(k, p, java.sql.Timestamp.valueOf(t)) }: _*), schema)
    val keys = (0 until 24).map(i => f"P-$i%02d")
    val seed = keys.take(16).zipWithIndex.map { case (k, i) =>
      (k, i * 1.0, "2024-01-01 00:00:00") }
    Store.upsertOrdersIncremental(spark, df(seed), dir, numBuckets = 4)
    val ref = scala.collection.mutable.Map(seed.map(r => r._1 -> r._2): _*)
    val deltaGen = Gen.listOfN(6, for {
      k <- Gen.oneOf(keys)
      op <- Gen.oneOf("insert", "update", "delete")
      p <- Gen.chooseNum(1.0, 999.0)
    } yield (k, op, math.rint(p))).map(_.distinctBy(_._1))
    samples(deltaGen, 8).zipWithIndex.foreach { case (draws, step) =>
      val ts = f"2024-02-${step + 1}%02d 00:00:00"
      // classify against the CURRENT reference state, read-only, so the
      // delta is well-formed (delete/update existing keys, insert new);
      // commit to ref only when the delta actually applies — mutating on
      // a skipped step would silently desynchronize ref from the store
      val delta = draws.flatMap { case (k, op, p) =>
        (op, ref.contains(k)) match {
          case ("delete", true)  => Some((k, 0.0, ts, "delete"))
          case ("insert", false) => Some((k, p, ts, "insert"))
          case ("update", true)  => Some((k, p, ts, "update"))
          case _ => None
        }
      }
      val after = ref.toMap --
        delta.collect { case (k, _, _, "delete") => k } ++
        delta.collect { case (k, p, _, op) if op != "delete" => k -> p }
      if (delta.nonEmpty && after.nonEmpty) {
        ref.clear(); ref ++= after
        Store.applyDelta(spark,
          df(delta.map(d => (d._1, d._2, d._3)))
            .withColumn("change_type",
              element_at(map(delta.flatMap(d =>
                Seq(lit(d._1), lit(d._4))): _*), col("order_id"))),
          dir)
        val got = Store.readOrdersIncremental(spark, dir).collect()
          .map(r => r.getAs[String]("order_id") -> r.getAs[Double]("price")).toMap
        assert(got == ref.toMap, s"step $step diverged after delta $delta")
      }
    }
  }

  test("moneySum is partitioning-independent (property, random doubles)") {
    import spark.implicits._
    // the invariant the cents representation exists for: a float sum's
    // value depends on accumulation order (partition layout), an integer
    // cents sum does not
    val values = samples(Gen.chooseNum(-1e6, 1e6), 2000)
    val sums = Seq(1, 7, 32).map { parts =>
      values.toDF("v").repartition(parts)
        .agg(Functions.moneySum(col("v")).as("s"))
        .collect().head.getDouble(0)
    }
    assert(sums.distinct.length == 1,
      s"moneySum varied with partitioning: $sums")
    // reference semantics: sum of per-value cents
    val expected = values.map(v => math.floor(v * 100 + 0.5).toLong).sum / 100.0
    assert(sums.head == expected)
  }

  test("chunking tiles every doc for random window/stride (property)") {
    import spark.implicits._
    val cases = samples(for {
      w <- Gen.chooseNum(2, 40)
      s <- Gen.chooseNum(1, 40) if s <= w
      n <- Gen.chooseNum(1, 120)
    } yield (w, s, n), 30).distinct
    cases.foreach { case (w, s, n) =>
      val doc = Seq((1L, (1 to n).map(i => s"t$i").mkString(" ")))
        .toDF("doc_id", "text")
      val chunks = graft.ext.Packing.chunkDocuments(doc, w, s)
        .orderBy("chunk_idx").collect()
      val ends = chunks.map(c =>
        c.getAs[Int]("start_token") + c.getAs[Int]("n_chunk_tokens") - 1)
      assert(chunks.head.getAs[Int]("start_token") == 1, s"(w=$w s=$s n=$n)")
      assert(ends.last == n, s"last token uncovered (w=$w s=$s n=$n)")
      // no chunk is contained in its predecessor, and no token is skipped
      chunks.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Int]("start_token") <=
            a.getAs[Int]("start_token") + a.getAs[Int]("n_chunk_tokens"),
            s"gap between chunks (w=$w s=$s n=$n)")
          assert(ends(b.getAs[Int]("chunk_idx") - 1) > ends(b.getAs[Int]("chunk_idx") - 2),
            s"redundant chunk (w=$w s=$s n=$n)")
        case _ => ()
      }
    }
    // the generator never produces s > w because the operator rejects it:
    // a gapped tiling would violate every assertion above
    intercept[IllegalArgumentException] {
      graft.ext.Packing.chunkDocuments(
        Seq((1L, "a b c")).toDF("doc_id", "text"), window = 4, stride = 5)
    }
  }

  test("budget selection: greedy-prefix invariants hold for random budgets (property)") {
    val docs = Tables.documents(spark, sf)
    samples(Gen.chooseNum(100L, 3000L), 6).distinct.foreach { budget =>
      val out = graft.ext.Selection.selectUnderBudget(docs, budget).collect()
      val sel = out.filter(_.getAs[Boolean]("selected"))
      assert(sel.nonEmpty, s"budget $budget selected nothing")
      val tot = sel.map(_.getAs[Long]("n_tokens")).sum
      val maxSel = sel.map(_.getAs[Long]("n_tokens")).max
      // greedy prefix: never stops short of the budget while docs remain,
      // never overshoots by more than the boundary doc
      if (out.length > sel.length)
        assert(tot >= budget && tot - maxSel < budget,
          s"boundary violated at budget=$budget: tot=$tot maxSel=$maxSel")
      // monotonicity stand-in: band dominance (order is band DESC)
      val minSelBand = sel.map(_.getAs[Int]("band")).min
      out.filterNot(_.getAs[Boolean]("selected")).foreach(r =>
        assert(r.getAs[Int]("band") <= minSelBand))
    }
  }

  test("source cap ≡ naive single window for random (k, buckets) (differential)") {
    import org.apache.spark.sql.expressions.Window
    import graft.ext.{Selection, TextAnalysis}
    val docs = Tables.documents(spark, sf)
    // the naive form once; the two-phase form must match it for EVERY
    // bucketing — bucket count is a performance knob, never a semantics one
    val (lenScore, ttr, stopRatio) = TextAnalysis.qualityParts(col("text"))
    val q = TextAnalysis.qualityScore(lenScore, ttr, stopRatio)
    val ranked = docs
      .select(col("doc_id"), col("source"),
        floor(q * Selection.SelectBands).cast("int").as("band"))
      .withColumn("src_rank", row_number().over(Window.partitionBy("source")
        .orderBy(col("band").desc, col("doc_id"))).cast("long"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("src_rank")).toMap
    val cases = samples(for {
      k <- Gen.chooseNum(1, 8); b <- Gen.chooseNum(1, 8)
    } yield (k, b), 6).distinct
    cases.foreach { case (k, b) =>
      val capped = Selection.capPerSource(docs, k = k, buckets = b)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("src_rank")).toMap
      val naive = ranked.filter(_._2 <= k)
      assert(capped == naive, s"cap diverges at k=$k buckets=$b")
    }
  }

  test("token mixture: integer rate replay holds for random share lists (property)") {
    import graft.ext.Sampling
    def md5Bucket(s: String): Int =
      (java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8), 16)
        % 100).toInt
    val docs = Tables.documents(spark, sf)
    val toks = docs.selectExpr("doc_id", "source",
        "CAST(size(split(text, ' ')) AS LONG) AS n_tokens")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val total = toks.map(_._3).sum
    val bySrc = toks.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val sources = bySrc.keys.toSeq.sorted
    // random subsets with random small shares — exercises frac_pct = 0,
    // dropped sources, and single-source concentration
    val shareGen = for {
      n <- Gen.chooseNum(1, math.min(5, sources.size))
      picked <- Gen.pick(n, sources)
      pcts <- Gen.listOfN(n, Gen.chooseNum(0, 20))
    } yield picked.toSeq.zip(pcts)
    samples(shareGen, 5).foreach { shares =>
      val expected = toks.map { case (id, src, _) =>
        val p = shares.collectFirst { case (s, pc) if s == src => pc }.getOrElse(0)
        val sTok = bySrc(src)
        val t = total * p / 100
        val pct = t % sTok * 100 / sTok
        id -> (t / sTok + (if (md5Bucket(s"tokmix:$id") < pct) 1L else 0L))
      }.toMap.filter(_._2 > 0)
      val got = Sampling.tokenMixture(docs, shares).groupBy("doc_id").count()
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("count")).toMap
      assert(got == expected, s"replay diverged for shares=$shares")
    }
  }

  test("epoch shuffle is a permutation for random shard counts (property)") {
    import graft.ext.Sampling
    val docs = Tables.documents(spark, sf)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    samples(for {
      e <- Gen.chooseNum(0, 5); n <- Gen.chooseNum(1, 16)
    } yield (e, n), 5).distinct.foreach { case (epoch, nShards) =>
      val out = Sampling.epochShuffle(docs, epoch = epoch, nShards = nShards).collect()
      assert(out.map(_.getAs[Long]("doc_id")).toSet == ids,
        s"shuffle dropped or invented docs at epoch=$epoch shards=$nShards")
      out.groupBy(_.getAs[Int]("shard")).foreach { case (shard, rows) =>
        assert(shard >= 0 && shard < nShards, s"shard $shard out of range")
        val pos = rows.map(_.getAs[Long]("pos")).sorted.toSeq
        assert(pos == (1L to rows.length), s"holes in shard $shard at epoch=$epoch")
      }
    }
  }

  test("dedup idempotence: Clean.dedupFull twice equals once") {
    val df = Tables.orders(spark, sf).select("o_orderstatus", "o_orderpriority")
    val once = Clean.dedupFull(df)
    val twice = Clean.dedupFull(once)
    assert(once.count() == twice.count())
    assert(once.exceptAll(twice).count() == 0)
  }

  test("keep-first dedup: output keys unique, subset of input, stable under re-run") {
    val df = graft.pipeline.OrdersDomain.dirtyFromTpch(spark, sf)
    val a = Clean.dedupKeepFirst(df)
    val b = Clean.dedupKeepFirst(df)
    assert(a.groupBy("order_id").count().filter(col("count") > 1).count() == 0)
    assert(a.exceptAll(b).count() == 0, "same pick on every run")
  }

  test("union-by-name schema closure: result schema is the union of source schemas") {
    val a = Tables.customer(spark, sf).select("c_custkey", "c_name", "c_acctbal")
    val b = Tables.supplier(spark, sf).select("s_suppkey", "s_name")
      .withColumnRenamed("s_suppkey", "c_custkey")
      .withColumnRenamed("s_name", "extra_col")
    val u = a.unionByName(b, allowMissingColumns = true)
    assert(u.columns.toSet == a.columns.toSet ++ b.columns.toSet)
    assert(u.count() == a.count() + b.count())
  }

  test("salted aggregation equals direct aggregation") {
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("sum_value"), count(lit(1)).as("n"))
    val salted = Functions.saltedSumCount(li, "l_returnflag", "l_quantity")
    val joined = direct.as("d").join(salted.as("s"), Seq("l_returnflag"))
      .filter(abs(col("d.sum_value") - col("s.sum_value")) > 1e-6 ||
        col("d.n") =!= col("s.n"))
    assert(joined.count() == 0)
  }

  test("record id: monotonic variant is unique; sequential variant is 1..n") {
    val df = Tables.orders(spark, sf).limit(500)
    val mono = Enrich.addRecordId(df)
    assert(mono.select("record_id").distinct().count() == 500)
    val seq = Enrich.addRecordId(df, sequentialBy = Some(Seq("o_orderkey")))
    val ids = seq.select("record_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 500L))
  }

  test("partitioned export prunes partitions on read") {
    val out = Files.createTempDirectory("part_out").toString + "/by_year"
    val df = Enrich.addTemporalAnalytics(
      graft.pipeline.OrdersDomain.fromTpch(spark, sf))
    Store.exportPartitioned(df.select("order_id", "total_amount", "order_year"),
      out, Seq("order_year"))
    val read = spark.read.parquet(out).filter(col("order_year") === 1997)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(order_year"), plan.take(800))
    assert(read.count() > 0)
  }

  test("langId total function: never null on generated strings (property)") {
    val gen = Gen.listOfN(8, Gen.oneOf("the", "la", "und", "les", "xyz", "data", "el"))
      .map(_.mkString(" "))
    val texts = samples(gen, 40)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(texts.map(Row(_)): _*),
      StructType(Seq(StructField("text", StringType))))
    val out = df.select(graft.ext.TextAnalysis.langId(col("text")).as("l")).collect()
    assert(out.forall(r => r.getString(0) != null))
    assert(out.forall(r => Set("en", "es", "de", "fr", "unknown").contains(r.getString(0))))
  }

  test("union-tag as-of ≡ brute-force as-of on random frames (property, 8 frames)") {
    import spark.implicits._
    // small key/time domains force heavy duplication, empty keys, ties at
    // equal times — the regimes where the carry order goes wrong
    val rowGen = for {
      k <- Gen.chooseNum(0L, 5L)
      t <- Gen.chooseNum(0L, 20L)
      id <- Gen.chooseNum(0L, 1000000L)
      v <- Gen.chooseNum(-100.0, 100.0)
    } yield (k, t, id, v)
    // one seed per frame — samples(gen, 8) draws with Seed(0..7); drawing
    // samples(gen, 1) inside the loop would replay Seed(0) eight times
    val lFrames = samples(Gen.listOfN(40, rowGen), 8)
    val rFrames = samples(Gen.listOfN(25, rowGen), 8)
    for (i <- 0 until 8) {
      val lRows = lFrames(i).zipWithIndex
        .map { case ((k, t, _, v), ix) => (k, t, ix.toLong, v) }
      val rRows = rFrames(i)
      val l = lRows.toDF("user_id", "ts", "event_id", "lv")
      val r = rRows.toDF("user_id", "ts", "event_id", "value")
      val vals = Map("event_id" -> "m_id", "value" -> "m_v")
      val got = graft.operators.AsOfJoin.asof(
        l, r, "user_id", "ts", "ts", vals, "event_id")
      val want = References.asof(l, r, "user_id", "ts", "ts", vals, "event_id")
      assert(got.count() == lRows.length.toLong, s"frame $i: not left-outer")
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"frame $i: union-tag and brute-force as-of diverge")
    }
  }

  test("packing resume ≡ full repack for random splits/budgets/shards (differential)") {
    import graft.ext.Packing
    val docs = Tables.documents(spark, sf)
    val maxId = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
    val tok = split(col("text"), " ")
    val caseGen = for {
      splitAt <- Gen.chooseNum(0L, maxId + 1)
      budget <- Gen.oneOf(64L, 512L, 2048L)
      shards <- Gen.oneOf(1, 3, 8)
    } yield (splitAt, budget, shards)
    samples(caseGen, 6).foreach { case (splitAt, budget, shards) =>
      val manifest = Packing.packSequences(
        docs.filter(col("doc_id") < splitAt), col("doc_id"), size(tok), budget, shards)
      val resumed = Packing.resumePacking(
        manifest, docs.filter(col("doc_id") >= splitAt), col("doc_id"),
        size(tok), budget, shards)
      val cols = Seq("doc_id", "shard", "n_tokens", "start_offset", "bin")
      val incremental = manifest.select(cols.head, cols.tail: _*)
        .unionByName(resumed.select(cols.head, cols.tail: _*))
      val full = Packing.packSequences(
        docs, col("doc_id"), size(tok), budget, shards)
        .select(cols.head, cols.tail: _*)
      assert(incremental.exceptAll(full).isEmpty &&
        full.exceptAll(incremental).isEmpty,
        s"resume != repack at split=$splitAt budget=$budget shards=$shards")
    }
  }

  test("dhash band split is pigeonhole-lossless for random hash pairs (property)") {
    import graft.ext.Multimodal
    // for ANY pair within the hamming budget, at least one band must
    // match exactly — this is the property that makes the q99 candidate
    // join lossless, so a band-geometry regression must fail here
    val caseGen = for {
      maxH <- Gen.chooseNum(0, 12)
      h1 <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      nFlips <- Gen.chooseNum(0, maxH)
      flips <- Gen.listOfN(nFlips, Gen.chooseNum(0, 63))
    } yield (maxH, h1, flips)
    samples(caseGen, 2000).foreach { case (maxH, h1, flips) =>
      val h2 = flips.foldLeft(h1)((h, b) => h ^ (1L << b))
      assert(java.lang.Long.bitCount(h1 ^ h2) <= maxH)
      val defs = Multimodal.dhashBandDefs(maxH)
      assert(defs.map(_._2).sum == 64, s"bands must cover all 64 bits: $defs")
      defs.sliding(2).foreach {
        case Seq((o1, w1), (o2, _)) => assert(o1 + w1 == o2, "bands must be disjoint+contiguous")
        case _ => ()
      }
      val shared = defs.exists { case (off, w) =>
        val mask = Multimodal.bandMask(w)
        ((h1 >>> off) & mask) == ((h2 >>> off) & mask)
      }
      assert(shared,
        s"pair within hamming budget $maxH lost by the band split: $h1 / $h2")
    }
  }

  test("exact-k sample is nested: sample(k1) is a prefix of sample(k2) for k1 < k2 (property)") {
    // the law that makes the sampler USABLE operationally: growing the
    // sample never discards already-selected rows (the draw is a fixed
    // total order, k is just a cut) — so an eval set can be extended
    // without invalidating published results
    import graft.ext.Sampling
    val docs = graft.Tables.documents(spark, sf)
    val ks = Seq(5, 17, 40, 80)
    val samples = ks.map(k =>
      k -> Sampling.exactKSample(docs, k).collect()
        .map(_.getAs[Long]("doc_id")).toSeq).toMap
    ks.sliding(2).foreach { case Seq(k1, k2) =>
      assert(samples(k2).take(k1) == samples(k1),
        s"sample($k1) must be a prefix of sample($k2)")
    }
  }

  test("weighted sample: nested like exact-k, and biased toward heavy docs") {
    import graft.ext.Sampling
    import org.apache.spark.sql.functions.{avg, col, size, split}
    val docs = graft.Tables.documents(spark, sf)
    // nesting: the priority is a fixed total order, k is just a cut
    val s20 = Sampling.weightedKSample(docs, 20).collect().map(_.getAs[Long]("doc_id")).toSeq
    val s60 = Sampling.weightedKSample(docs, 60).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(s60.take(20) == s20, "weighted sample must nest")
    // size bias: mean token weight of the sample exceeds the corpus mean
    val corpusMean = docs
      .agg(avg(size(split(col("text"), " ")))).head().getDouble(0)
    val sampleMean = Sampling.weightedKSample(docs, 60)
      .agg(avg(col("weight"))).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"token-weighted sample not biased to heavy docs: $sampleMean vs $corpusMean")
  }

  test("two-level exact median ≡ flat sorted rank on random distributions (differential)") {
    import graft.queries.Profiling
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val cases = Seq(
      // uniform, heavy ties, skewed power-law, constant
      (1 to 501).map(_ => rnd.nextDouble() * 1000),
      (1 to 400).map(_ => (rnd.nextInt(3) + 1) * 10.0),
      (1 to 300).map(_ => math.pow(10, rnd.nextDouble() * 4)),
      (1 to 100).map(_ => 42.42))
    cases.foreach { vs =>
      val df = vs.toDF("l_extendedprice")
      val got = Profiling.exactMedianScalable(df).head()
      val cents = vs.map(v => math.floor(v * 100 + 0.5).toLong).sorted
      val k = math.ceil(cents.length / 2.0).toInt
      assert(got.getAs[Long]("median_cents") == cents(k - 1),
        s"median mismatch on n=${vs.length}: got $got want ${cents(k - 1)}")
      assert(got.getAs[Long]("n") == vs.length && got.getAs[Long]("k") == k)
    }
  }

  test("grouped two-level median ≡ flat per-group rank on random frames (differential)") {
    import graft.queries.Profiling
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (1 to 900).map { i =>
      val g = s"t${i % 4}"
      // mix signs, magnitudes, and heavy ties across groups
      val v = (i % 4) match {
        case 0 => rnd.nextDouble() * 100 - 50
        case 1 => (rnd.nextInt(5) + 1) * 1.25
        case 2 => math.pow(10, rnd.nextDouble() * 3) - 500
        case _ => 7.77
      }
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), g, v)
    }
    val df = rows.toDF("event_id", "ts", "event_type", "value")
    val got = Profiling.groupedExactMedian(df).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("median")).toMap
    rows.groupBy(_._3).foreach { case (g, grp) =>
      val micro = grp.map(r => math.floor(r._4 * 1e6 + 0.5).toLong).sorted
      val k = math.ceil(micro.length / 2.0).toInt
      val want = micro(k - 1) / 1e6
      assert(got(g) == want, s"group $g: got ${got(g)} want $want")
    }
  }

  test("bucketed rank selection: recursion bounds the pass-2 task; selected ranks unchanged") {
    import graft.queries.Profiling
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // mid-skew group: ~800 rows of many DISTINCT values crammed into
    // [0, 0.02] — outliers stretch the range to ~1000, so the cluster
    // lands in ONE first-level bucket that an equi-width cut can only
    // split by recursing (the straggler shape VERDICT r6 flagged)
    val heavyMulti = (1 to 800).map(_ => rnd.nextInt(2000) / 100000.0) ++
      (1 to 50).map(_ => rnd.nextDouble() * 1000)
    // heavy-single-value group: no equi-width cut can ever split the run;
    // the constant-sub-bucket branch must answer without a ranking task
    val heavyOne = (1 to 900).map(_ => 123.45) ++
      (1 to 60).map(_ => rnd.nextDouble() * 5000)
    val rows = heavyMulti.map(("multi", _)) ++ heavyOne.map(("one", _))
    val df = rows.map { case (g, v) =>
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), g, v)
    }.toDF("event_id", "ts", "event_type", "value")
    // bigBucket = 0: EVERY target bucket exceeds the bound (bcnt ≥ 1 > 0),
    // so the direct path is provably empty — every answer below came
    // through the recursive sub-histogram or the constant-value branch
    val rec = Profiling.groupedExactQuantiles(df, bigBucket = 0L).collect()
    val plain = Profiling.groupedExactQuantiles(df).collect()
    assert(rec.map(_.toSeq).toSet == plain.map(_.toSeq).toSet,
      "recursive path disagrees with the direct path")
    assert(rec.length == 2 * Profiling.QuantileSpecs.length)
    rows.groupBy(_._1).foreach { case (g, grp) =>
      val micro = grp.map(r => math.floor(r._2 * 1e6 + 0.5).toLong).sorted
      val n = micro.length
      Profiling.QuantileSpecs.foreach { case (q, num, den) =>
        val k = ((num * n + den - 1) / den).toInt
        val want = micro(k - 1) / 1e6
        val got = rec.find(r => r.getAs[String]("event_type") == g &&
          r.getAs[String]("quantile") == q).get
        assert(got.getAs[Double]("value") == want &&
          got.getAs[Long]("k") == k && got.getAs[Long]("n") == n,
          s"$g/$q: got $got want $want (k=$k n=$n)")
      }
    }
    // the global (q134) form takes the same bound
    val li = heavyMulti.toDF("l_extendedprice")
    val gGot = Profiling.exactMedianScalable(li, bigBucket = 0L).head()
    val cents = heavyMulti.map(v => math.floor(v * 100 + 0.5).toLong).sorted
    assert(gGot.getAs[Long]("median_cents") == cents((cents.length + 1) / 2 - 1),
      s"global recursive median wrong: $gGot")
  }

  test("cms index merge is order-independent over random splits (property)") {
    // Count-Min state is a commutative monoid: any batch arrival order
    // must converge to the one-shot sketch
    import graft.ext.TextAnalysis
    import org.apache.spark.sql.functions.{col, pmod}
    val docs = graft.Tables.documents(spark, sf)
    val full = TextAnalysis.cmsSketch(docs)
    val rnd = new scala.util.Random(7)
    (1 to 2).foreach { _ =>
      val nParts = 2 + rnd.nextInt(3)
      val order = rnd.shuffle((0 until nParts).toList)
      val dir = java.nio.file.Files.createTempDirectory("cms_prop").toString
      TextAnalysis.buildCmsIndex(
        docs.filter(pmod(col("doc_id"), org.apache.spark.sql.functions.lit(nParts)) === order.head), dir)
      order.tail.foreach { p =>
        TextAnalysis.appendToCmsIndex(spark, dir,
          docs.filter(pmod(col("doc_id"), org.apache.spark.sql.functions.lit(nParts)) === p))
      }
      val merged = TextAnalysis.readCmsIndex(spark, dir)
      assert(merged.exceptAll(full).count() == 0 &&
        full.exceptAll(merged).count() == 0,
        s"merge order $order diverged from the one-shot sketch")
    }
  }

  test("dup-span islands cover every duplicated shingle position (property)") {
    // soundness of the gaps-and-islands merge: for random corpora, every
    // position of every cross-doc-duplicated shingle lies inside some
    // reported span of its doc, and spans never exceed the doc
    import graft.ext.Dedup
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 12).map(i => s"t$i")
    val docs = (1L to 24L).map { id =>
      val n = 6 + rnd.nextInt(20)
      (id, (1 to n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val prof = Dedup.dupSpanProfile(docs).collect()
    prof.foreach { r =>
      val nTok = r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("covered_tokens") <= nTok, s"$r")
      assert(r.getAs[Long]("max_span_tokens") <= nTok, s"$r")
      assert((r.getAs[Long]("n_dup_spans") == 0) ==
        (r.getAs[Long]("covered_tokens") == 0), s"$r")
    }
  }

  test("weighted rank selection: expansion equivalence, wt=1 degeneracy, forced recursion (property)") {
    import graft.queries.Profiling
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // random (value, weight) multiset with heavy duplicate values so the
    // crossing regularly lands INSIDE a run of ties
    val rows = (1 to 400).map(_ =>
      ("a", rnd.nextInt(50).toLong * 3, 1L + rnd.nextInt(9))) ++
      (1 to 300).map(_ => ("b", rnd.nextInt(1000).toLong, 1L + rnd.nextInt(4))) ++
      // a group spanning more than Long.MaxValue (its bucket width must not
      // overflow), with the median landing on the first row of a tie run
      Seq((Long.MinValue, 3L), (Long.MaxValue, 2L), (-1L, 1L), (0L, 1L),
        (1L, 1L)).map { case (v, wt) => ("c", v, wt) } ++
      Seq.fill(5)(("c", 42L, 1L))
    val df = rows.toDF("g", "v", "wt")
    val quantiles = Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p90", 9L, 10L))
    val got = Profiling.weightedQuantileSelect(
      df, quantiles, 256, 10000L).collect()
    // ground truth: expand each row wt times, take the unweighted order
    // statistic at rank ceil(num·W/den)
    rows.groupBy(_._1).foreach { case (g, grp) =>
      val expanded = grp.flatMap(r => Seq.fill(r._3.toInt)(r._2)).sorted
      val wTot = expanded.length.toLong
      quantiles.foreach { case (q, num, den) =>
        val k = (num * wTot + den - 1) / den
        val want = expanded((k - 1).toInt)
        val r = got.find(r => r.getAs[String]("g") == g &&
          r.getAs[String]("q") == q).get
        assert(r.getAs[Long]("v") == want && r.getAs[Long]("wtot") == wTot &&
          r.getAs[Long]("k") == k, s"$g/$q: got $r want $want (k=$k W=$wTot)")
      }
    }
    // wt = 1 everywhere degenerates to the unweighted engine exactly
    val unit = df.select(col("g"), col("v"), lit(1L).as("wt"))
    val wu = Profiling.weightedQuantileSelect(unit, quantiles, 256, 10000L)
      .select("g", "q", "v").collect().map(_.toSeq).toSet
    val plain = Profiling.bucketedQuantileSelect(
        df.select("g", "v"), quantiles, 256, 10000L)
      .select("g", "q", "v").collect().map(_.toSeq).toSet
    assert(wu == plain, "wt=1 weighted selection diverged from unweighted")
    // bigBucket = 0 forces the sub-histogram path for every target —
    // results must not move
    val rec = Profiling.weightedQuantileSelect(df, quantiles, 256, 0L)
      .collect().map(_.toSeq).toSet
    assert(rec == got.map(_.toSeq).toSet,
      "recursive weighted path disagrees with the direct path")
  }

  test("KS/MWU vs brute force on random frames (property)") {
    import graft.queries.Profiling
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // two shifted-ish random distributions over the five known types
    val rows = Seq("view", "click", "error", "purchase", "signup").flatMap {
      t =>
        val shift = if (t == "purchase") 30.0 else 0.0
        (1 to 150).map(_ => (t, rnd.nextInt(100) + shift + rnd.nextInt(3)))
    }
    val df = rows.toDF("event_type", "value")
    val ks = Profiling.ksDrift(df).collect()
      .map(r => r.getAs[String]("vs_type") -> r).toMap
    val mwu = Profiling.mannWhitney(df).collect()
      .map(r => r.getAs[String]("vs_type") -> r).toMap
    val micro = rows.groupBy(_._1).view
      .mapValues(_.map(r => math.floor(r._2 * 1e6 + 0.5).toLong)).toMap
    val base = micro("view")
    for (ty <- Seq("click", "error", "purchase", "signup")) {
      val other = micro(ty)
      // brute-force KS numerator over the union of values
      val values = (base ++ other).distinct.sorted
      val d = values.map { v =>
        math.abs(base.count(_ <= v).toLong * other.size -
          other.count(_ <= v).toLong * base.size)
      }.max
      assert(ks(ty).getAs[Long]("ks_num") == d,
        s"KS numerator mismatch for $ty: ${ks(ty)} want $d")
      // brute-force doubled U: 2·wins + ties
      val u2 = base.map(b =>
        2L * other.count(_ < b) + other.count(_ == b)).sum
      assert(mwu(ty).getAs[Long]("u2_base") == u2,
        s"U2 mismatch for $ty: ${mwu(ty)} want $u2")
      assert(mwu(ty).getAs[Boolean]("identity_ok"))
    }
    // the planted +30 shift must reject in both tests; error (same
    // distribution family as view) must not reject KS at n=150
    assert(ks("purchase").getAs[Boolean]("reject_05"))
    assert(mwu("purchase").getAs[Boolean]("reject_05"))
  }

  test("Gini / percentile-rank / Pareto vs brute force on random frames (property)") {
    import graft.queries.{Advanced, Profiling}
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // Gini on two random groups with duplicates
    val gvals = Seq("a", "b").flatMap(g =>
      (1 to 120).map(_ => (g, rnd.nextInt(40).toLong * 7)))
    val gini = Profiling.giniConcentration(gvals.toDF("g", "v")).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    gvals.groupBy(_._1).foreach { case (g, grp) =>
      val xs = grp.map(_._2).sorted
      val n = xs.length.toLong
      val sx = xs.sum
      val twoSum = xs.zipWithIndex.map { case (x, i) => 2L * (i + 1) * x }.sum
      val num = twoSum - (n + 1) * sx
      val den = n * sx
      assert(gini(g).getAs[Long]("gini_num") == num, s"$g: ${gini(g)}")
      assert(gini(g).getAs[Long]("gini_den") == den)
      assert(gini(g).getAs[Long]("gini_ppm") ==
        BigInt(num) * 1000000 / BigInt(den))
    }
    // percentile rank vs the rank()-based definition
    val pvals = (1 to 200).map(i => (i.toLong, rnd.nextInt(30).toLong))
    val pr = Profiling.percentileRank(pvals.toDF("event_id", "v"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[Long]("prank_ppm")).toMap
    val all = pvals.map(_._2)
    pvals.foreach { case (id, v) =>
      val lt = all.count(_ < v).toLong
      val eq = all.count(_ == v).toLong
      val want = BigInt(2 * lt + eq + 1) * 1000000 / BigInt(2L * all.size)
      assert(pr(id) == want, s"row $id v=$v: ${pr(id)} want $want")
    }
    // Pareto frontier vs the quadratic dominance filter — swept across
    // stripe widths (1 = every price its own stripe, 1000 = one stripe)
    // so the two-phase decomposition is pinned at every boundary regime
    val items = (1 to 150).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val distinctItems = items.distinct
    val want = distinctItems.filter { case (p, q) =>
      !distinctItems.exists { case (p2, q2) =>
        p2 <= p && q2 >= q && (p2 < p || q2 > q) }
    }.toSet
    for (width <- Seq(1L, 3L, 17L, 1000L)) {
      val got = Advanced.paretoFrontier(
          items.toDF("price_cents", "quantity"), bucketWidth = width)
        .collect().map(r =>
          (r.getAs[Long]("price_cents"), r.getAs[Long]("quantity"))).toSet
      assert(got == want,
        s"frontier mismatch at width=$width: got $got want $want")
    }
  }
}
