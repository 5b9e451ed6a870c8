package graft

import graft.ext.{Dedup, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Semantic assertions for the extension operators whose engines-specific
  * hashing has no SQL oracle (MinHash, SimHash, LSH ANN), plus the text
  * functions. */
class ExtSpec extends SparkSpec {

  private def docsDf(rows: (Long, String)*) = spark.createDataFrame(
    java.util.Arrays.asList(rows.map { case (i, t) => Row(i, t) }: _*),
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("langId classifies marker-bearing text deterministically") {
    val df = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog and runs",
      2L -> "el perro grande de la casa come los huevos",
      3L -> "der hund und die katze spielen in das haus",
      4L -> "zzz qqq www").withColumn("lang_pred", TextAnalysis.langId(col("text")))
    val out = df.orderBy("doc_id").collect().map(_.getAs[String]("lang_pred"))
    assert(out.toSeq == Seq("en", "es", "de", "unknown"))
  }

  test("occurrences counts standalone tokens") {
    val df = docsDf(1L -> "a b a c a")
    val n = df.select(TextAnalysis.markerScore(col("text"), Seq("a")).as("n"))
      .collect().head.getAs[Int]("n")
    // non-overlapping ' a ' matching: "a b a c a" padded → positions 0, 2 → 2
    // (the replace-delta trick undercounts adjacent repeats; deterministic)
    assert(n >= 2 && n <= 3)
  }

  test("exact dedup groups collapse injected duplicates") {
    val df = docsDf(1L -> "same text here", 2L -> "same text here", 3L -> "different")
    val groups = Dedup.exactDedupGroups(df).collect()
    assert(groups.length == 2)
    val dup = groups.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keeper_doc_id") == 1L)
  }

  test("jaccard pairs: identical docs score 1.0, disjoint docs absent") {
    val df = docsDf(
      1L -> "w1 w2 w3 w4 w5 w6",
      2L -> "w1 w2 w3 w4 w5 w6",
      3L -> "z1 z2 z3 z4 z5 z6")
    val pairs = Dedup.jaccardPairs(df, 0.01).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("doc_a") == 1L)
    assert(pairs.head.getAs[Double]("jaccard") == 1.0)
  }

  test("minhash: identical docs have identical signatures and always collide in LSH") {
    val df = docsDf(
      1L -> "w1 w2 w3 w4 w5 w6 w7 w8",
      2L -> "w1 w2 w3 w4 w5 w6 w7 w8",
      3L -> "a1 b2 c3 d4 e5 f6 g7 h8")
    val cand = Dedup.minhashCandidates(df, 0.9).collect()
    assert(cand.exists(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L))
    assert(cand.forall(r => !(r.getAs[Long]("doc_b") == 3L)))
    val exact = cand.find(r => r.getAs[Long]("doc_a") == 1L).get
    assert(exact.getAs[Double]("est_jaccard") == 1.0)
  }

  test("minhash est_jaccard tracks exact jaccard on the corpus (sf0.001)") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 300)
    val exact = Dedup.jaccardPairs(docs, 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard"))
      .toMap
    val est = Dedup.minhashCandidates(docs, 0.5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("est_jaccard"))
      .toMap
    // every strongly-similar exact pair (j >= 0.8) must be recalled by LSH
    val strong = exact.filter(_._2 >= 0.8).keySet
    val recalled = strong.intersect(est.keySet)
    assert(strong.isEmpty || recalled.size.toDouble / strong.size >= 0.8,
      s"LSH recall too low: ${recalled.size}/${strong.size}")
    // estimates on shared pairs are within 0.35 of exact (k=16 variance)
    est.keySet.intersect(exact.keySet).foreach { k =>
      assert(math.abs(est(k) - exact(k)) <= 0.35, s"pair $k est=${est(k)} exact=${exact(k)}")
    }
  }

  test("simhash: identical docs at hamming 0; pairs bounded") {
    val df = docsDf(
      1L -> "w1 w2 w3 w4 w5 w6",
      2L -> "w1 w2 w3 w4 w5 w6",
      3L -> "q9 r8 s7 t6 u5 v4")
    val pairs = Dedup.simhashPairs(df, 0).collect()
    assert(pairs.exists(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L))
  }

  test("near-dup clusters: transitive chains collapse to the minimum id") {
    import spark.implicits._
    // chain 1-2-3-4-5 needs multiple propagation rounds; {10,11} is a
    // separate component; jaccard column present like jaccardPairs output
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
      (4L, 5L, 1.0), (10L, 11L, 1.0))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.clustersFromPairs(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
    // empty pair set → empty clustering, no iteration crash
    assert(Dedup.clustersFromPairs(pairs.filter(col("doc_a") < 0)).isEmpty)
    // every q60 member maps to a representative that is itself a member
    val q60 = SparkEntry.queries("q60_neardup_clusters")(spark, sf).collect()
    val members = q60.map(_.getAs[Long]("doc_id")).toSet
    val reps = q60.map(_.getAs[Long]("cluster_rep")).toSet
    assert(reps.subsetOf(members), "a cluster rep is not itself clustered")
    assert(q60.forall(r => r.getAs[Long]("cluster_rep") <= r.getAs[Long]("doc_id")))
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Seq(1.0f, 0.0f), 0),
      Row(2L, Seq(1.0f, 0.0f), 0),
      Row(3L, Seq(0.0f, 1.0f), 1)), schema)
    val top = Similarity.cosineTopK(df.filter(col("vec_id") === 1), df, 2)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("cand_id") == 2L)
    assert(math.abs(top(0).getAs[Double]("cosine") - 1.0) < 1e-9)
    assert(math.abs(top(1).getAs[Double]("cosine")) < 1e-9)
  }

  test("ann lsh: identical vectors share a bucket; recall vs brute force is nonzero") {
    val brute = SparkEntry.queries("q31_cosine_topk")(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
        -> r.getAs[Double]("cosine")).toMap
    val ann = SparkEntry.queries("q33_ann_lsh")(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
        -> r.getAs[Double]("cosine")).toMap
    assert(brute.nonEmpty && ann.nonEmpty)
    val overlap = brute.keySet.intersect(ann.keySet)
    val recall = overlap.size.toDouble / brute.size
    assert(recall > 0.1, s"ANN recall $recall")
    // ann cosines must match brute-force cosines where pairs overlap —
    // wrong norm wiring in the candidate re-attach joins would show here
    overlap.foreach { k =>
      assert(math.abs(brute(k) - ann(k)) < 1e-9,
        s"cosine mismatch at $k: brute=${brute(k)} ann=${ann(k)}")
    }
  }

  test("ann ivf: lloyd-refined centroids recover recall on clustered data") {
    // Fixture built so SEEDED-ONLY centroids degenerate: 4 tight clusters on
    // orthogonal axes, but every one of the 16 seed ids (the lowest vec_ids)
    // lies in cluster 0 — without refinement all cells sit in one region and
    // probing 4 of them returns near-arbitrary candidates. Lloyd rounds must
    // migrate centroids onto the real clusters.
    val dim = 8
    val rnd = new scala.util.Random(7)
    def point(cluster: Int, id: Long): Row = {
      val base = Array.fill(dim)(0.0f)
      base(cluster * 2) = 1.0f
      Row(id, base.map(c => c + (rnd.nextFloat() - 0.5f) * 0.05f).toSeq, cluster)
    }
    val rows = // ids 0..24 all cluster 0 (covers the 16 seeds), then round-robin
      (0L until 25L).map(point(0, _)) ++
        (25L until 100L).map(id => point((id % 3 + 1).toInt, id))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val corpus = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    // one query per non-seed cluster
    val queries = corpus.filter(col("vec_id").isin(25L, 26L, 27L))
    val exact = Similarity.cosineTopK(queries, corpus, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val ivf = Similarity.ivfTopK(queries, corpus, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall on clustered corpus $recall")
  }

  test("ann ivf: recall vs brute force on the real corpus, cosines exact") {
    val brute = SparkEntry.queries("q31_cosine_topk")(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
        -> r.getAs[Double]("cosine")).toMap
    val ivf = SparkEntry.queries("q44_ann_ivf")(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
        -> r.getAs[Double]("cosine")).toMap
    assert(brute.nonEmpty && ivf.nonEmpty)
    val overlap = brute.keySet.intersect(ivf.keySet)
    val recall = overlap.size.toDouble / brute.size
    assert(recall > 0.1, s"IVF recall $recall")
    overlap.foreach { k =>
      assert(math.abs(brute(k) - ivf(k)) < 1e-9,
        s"cosine mismatch at $k: brute=${brute(k)} ivf=${ivf(k)}")
    }
  }

  test("bpe encode: hand-computed counts under a known merge, totals bounded") {
    val docs = docsDf(
      1L -> "aaab ab",
      2L -> "b b b",
      3L -> "aaab aaab aaab")
      .withColumn("source", lit("t")).withColumn("lang", lit("en"))
    // merge "a b": " a a a b " → " a a ab " (3-pass LTR), " a b " → " ab "
    val out = TextAnalysis.bpeEncode(docs, Seq("a b")).orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens")))
    assert(out.toSeq == Seq((1L, 2L, 4L), (2L, 3L, 3L), (3L, 3L, 9L)))
    // chain fusion needs the multi-pass: "a a" then applied repeatedly
    val chained = TextAnalysis.bpeEncode(docsDf(1L -> "aaaa")
      .withColumn("source", lit("t")).withColumn("lang", lit("en")),
      Seq("a a", "aa aa"))
      .collect().head.getAs[Long]("n_bpe_tokens")
    assert(chained == 1L, s"aaaa under [a a, aa aa] must fuse to 1, got $chained")
    // full-corpus invariant: n_words <= n_bpe_tokens <= total chars
    val real = Tables.documents(spark, sf)
    val merges = TextAnalysis.bpeMerges(real).orderBy("round")
      .collect().map(_.getAs[String]("pair")).toSeq
    val enc = TextAnalysis.bpeEncode(real, merges)
      .join(real.select(col("doc_id"), col("n_chars")), "doc_id")
    assert(enc.filter(col("n_bpe_tokens") < col("n_words") ||
      col("n_bpe_tokens") > col("n_chars")).isEmpty,
      "per-doc BPE token count must lie between word count and char count")
  }

  test("source vocab overlap: hand-computed Jaccard, zero-overlap pairs present") {
    val docs = docsDf(1L -> "a b c", 2L -> "b c d", 3L -> "x")
      .withColumn("source", concat(lit("s"), col("doc_id")))
      .withColumn("lang", lit("en"))
    val r = TextAnalysis.sourceVocabOverlap(docs).collect()
      .map(x => (x.getAs[String]("s1"), x.getAs[String]("s2")) ->
        (x.getAs[Long]("n_inter"), x.getAs[Long]("jaccard_ppm"))).toMap
    assert(r.size == 3, s"3 pairs expected, got ${r.keySet}")
    assert(r(("s1", "s2")) == (2L, 500000L)) // {b,c} of {a,b,c,d}
    assert(r(("s1", "s3")) == (0L, 0L), "zero-overlap pair must be present")
    assert(r(("s2", "s3")) == (0L, 0L))
  }

  test("weighted source overlap: equal Jaccard splits by cosine; mirrored mass reads high, long-tail low") {
    // A and B mirror the high-frequency token; A and C share one
    // long-tail token. Presence-Jaccard CANNOT tell the pairs apart
    // (both 1/3) — the weighted cosine is the discriminator q188 adds.
    val docs = docsDf(1L -> "the the the the cat", 2L -> "the the the dog",
      3L -> "cat zebra")
      .withColumn("source",
        expr("CASE doc_id WHEN 1 THEN 'A' WHEN 2 THEN 'B' ELSE 'C' END"))
      .withColumn("lang", lit("en"))
    val jac = TextAnalysis.sourceVocabOverlap(docs).collect()
      .map(x => (x.getAs[String]("s1"), x.getAs[String]("s2")) ->
        x.getAs[Long]("jaccard_ppm")).toMap
    assert(jac(("A", "B")) == jac(("A", "C")),
      "fixture broke: the pairs must tie on presence-Jaccard")
    val r = TextAnalysis.sourceWeightedOverlap(docs).collect()
      .map(x => (x.getAs[String]("s1"), x.getAs[String]("s2")) ->
        (x.getAs[Long]("n_common"), x.getAs[Long]("cosine_ppm"))).toMap
    assert(r.size == 3, s"3 pairs expected, got ${r.keySet}")
    // A: the=4, cat=1 (ss=17); B: the=3, dog=1 (ss=10); C: cat=1,
    // zebra=1 (ss=2) — expected ppm via the same IEEE expression shape
    def ppm(dot: Double, ss1: Double, ss2: Double): Long =
      math.floor(dot / math.sqrt(ss1 * ss2) * 1000000.0).toLong
    assert(r(("A", "B")) == (1L, ppm(12.0, 17.0, 10.0)))
    assert(r(("A", "C")) == (1L, ppm(1.0, 17.0, 2.0)))
    assert(r(("B", "C")) == (0L, 0L), "zero-overlap pair must be present")
    assert(r(("A", "B"))._2 > 900000L && r(("A", "C"))._2 < 200000L,
      "mirrored mass must read near 1, long-tail sharing near 0")
  }

  test("k-anonymity card: planted group sizes land in the right buckets, ppm exact") {
    import graft.ext.Redaction
    def cust(n: Int, nation: Int, seg: String, bal: Double) =
      (0 until n).map(i => (s"c$nation$seg$bal$i", nation, seg, bal))
    val rows = cust(1, 1, "A", 100.0) ++ cust(1, 1, "A", -10.0) ++ // bands 0 and -1 must split
      cust(2, 1, "B", 100.0) ++ cust(3, 2, "A", 100.0) ++
      cust(5, 2, "B", 100.0) ++ cust(10, 3, "A", 100.0)
    val df = spark.createDataFrame(rows).toDF("c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .withColumn("c_custkey", monotonically_increasing_id())
    val out = Redaction.kAnonymityCard(df).collect()
      .map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("n_groups"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("rows_ppm"))).toMap
    // 22 rows total; the negative balance is its own quasi-identifier group
    assert(out("k=1") == (2L, 2L, 2000000L / 22))
    assert(out("k=2") == (1L, 2L, 2000000L / 22))
    assert(out("k=3-4") == (1L, 3L, 3000000L / 22))
    assert(out("k=5-9") == (1L, 5L, 5000000L / 22))
    assert(out("k>=10") == (1L, 10L, 10000000L / 22))
  }

  test("pii incidence: hand-counted email/phone hits, doc-level and occurrence counts split, ppm exact") {
    import graft.ext.Redaction
    val docs = docsDf(
      1L -> "hello bob@x.com world",
      2L -> "call 555-123-4567 now",
      3L -> "clean text only",
      4L -> "two a@b.c c@d.e and 555-000-1111")
      .withColumn("source", lit("s"))
    val r = Redaction.piiIncidence(docs).collect().head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("docs_with_email") == 2L)
    assert(r.getAs[Long]("docs_with_phone") == 2L)
    assert(r.getAs[Long]("n_emails") == 3L, "occurrences, not docs")
    assert(r.getAs[Long]("n_phones") == 2L)
    assert(r.getAs[Long]("email_doc_ppm") == 500000L)
    assert(r.getAs[Long]("phone_doc_ppm") == 500000L)
  }

  test("corpus text redaction: removal closes the q195 loop (incidence 0), tokens are deterministic per value") {
    import graft.ext.Redaction
    val rows = Seq(
      (1L, "s1", "reach alice@example.com or call 555-123-4567 now"),
      (2L, "s1", "alice@example.com appears again plus bob@other.org"),
      (3L, "s2", "no pii in this one"),
      (4L, "s2", "555-123-4567 and 555-999-0000 two phones"),
      (5L, "s2", "ends with an email a@b.c"))
    val df = spark.createDataFrame(rows).toDF("doc_id", "source", "text")
    val red = Redaction.redactCorpusText(df)
    val out = red.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_emails_redacted"), r.getAs[Long]("n_phones_redacted"),
        r.getAs[String]("redacted_text"))).toMap
    assert(out(1L)._1 == 1L && out(1L)._2 == 1L)
    assert(out(2L)._1 == 2L && out(3L) == (0L, 0L, "no pii in this one"))
    assert(out(4L)._2 == 2L && out(5L)._1 == 1L)
    // deterministic same-value-same-token: alice's placeholder in doc 1
    // equals alice's in doc 2, and differs from bob's
    val tok1 = out(1L)._3.split(" ").find(_.startsWith("EMAIL_")).get
    val toks2 = out(2L)._3.split(" ").filter(_.startsWith("EMAIL_"))
    assert(toks2.contains(tok1), "same email must map to the same token")
    assert(toks2.distinct.length == 2, "different emails, different tokens")
    // distinct phones get distinct tokens; doc 4's two differ
    assert(out(4L)._3.split(" ").filter(_.startsWith("PHONE_"))
      .distinct.length == 2)
    // the loop closes: the redacted corpus has ZERO detectable PII
    val inc = Redaction.piiIncidence(
      red.select(col("source"), col("redacted_text").as("text"))).collect()
    inc.foreach { r =>
      assert(r.getAs[Long]("docs_with_email") == 0L &&
        r.getAs[Long]("docs_with_phone") == 0L &&
        r.getAs[Long]("n_emails") == 0L && r.getAs[Long]("n_phones") == 0L,
        s"redacted text still detects PII in source ${r.getAs[String]("source")}")
    }
    // null text stays an honest null (missingness statistics survive)
    val nulled = Redaction.redactCorpusText(
      spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(9L, "s", null)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))))
      .collect()(0)
    assert(nulled.getAs[String]("redacted_text") == null)
  }

  test("generalization sweep: nested coarsening monotonically shrinks the at-risk share; non-nested chains refuse") {
    import graft.ext.Redaction
    // one nation/segment, balances spread so each width regroups them:
    // width 500 -> six k=1 groups, width 1000 -> three k=2 groups (all
    // still at risk), width >= 5000 -> one k=6 group (safe)
    val rows = Seq(100.0, 600.0, 1100.0, 1600.0, 2100.0, 2600.0)
      .zipWithIndex.map { case (bal, i) => (s"c$i", 1, "A", bal) }
    val df = spark.createDataFrame(rows).toDF("c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .withColumn("c_custkey", monotonically_increasing_id())
    val out = Redaction.generalizationSweep(df).collect()
      .map(r => r.getAs[Int]("band_width") ->
        (r.getAs[Long]("n_groups"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("at_risk_rows"), r.getAs[Long]("at_risk_ppm"))).toMap
    assert(out(500) == (6L, 6L, 6L, 1000000L))
    assert(out(1000) == (3L, 6L, 6L, 1000000L))
    assert(out(5000) == (1L, 6L, 0L, 0L))
    assert(out(10000) == (1L, 6L, 0L, 0L))
    // a non-nested step (2500 after 1000) can SPLIT a band boundary and
    // raise the curve — the monotone reading rule breaks, so the
    // operator must refuse it loudly
    val e = intercept[IllegalArgumentException] {
      Redaction.generalizationSweep(df, Seq(1000, 2500, 5000))
    }
    assert(e.getMessage.contains("nested chain"))
    // a DUPLICATE width passes divisibility (500 % 500 == 0) but would
    // explode two identical band_width rows per customer into the same
    // (width, QI) group, doubling every k — refused loudly too
    val dup = intercept[IllegalArgumentException] {
      Redaction.generalizationSweep(df, Seq(500, 500, 5000))
    }
    assert(dup.getMessage.contains("strictly increasing"))
  }

  test("injectedId offsets clone ids below the bound and fails loudly past it") {
    // 22004999 is the 9x clone-chain corpus's max doc_id — the largest
    // base id the scheme must accept
    val ok = docsDf(3L -> "x", 22004999L -> "y")
      .select(Dedup.injectedId(col("doc_id"), 100000000L).as("doc_id"))
      .collect().map(_.getLong(0)).sorted
    assert(ok.toSeq == Seq(100000003L, 122004999L))
    // a corpus past the bound would make injected ids collide with base
    // ids and fan out the flag joins IDENTICALLY in both engines — the
    // oracle could never catch it, so the operator must refuse at scan
    val e = intercept[RuntimeException] {
      docsDf(100000000L -> "z")
        .select(Dedup.injectedId(col("doc_id"), 300000000L).as("doc_id"))
        .collect()
    }
    assert(e.getMessage.contains("injected-clone id scheme"))
  }

  test("pair-frame cache: cached frames equal the fresh chains per variant; non-derivable requests refuse") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"cached $what diverges from the fresh chain")
    // exact-Jaccard: the <300 slice and both registered thresholds are
    // re-filters of ONE cached (<1000, >=0.05) superset frame — on the
    // RAW jaccard, so rounding can't admit a pair the fresh op rejects
    same(Dedup.jaccardPairsCached(spark, sf, 300, 0.3),
      Dedup.jaccardPairs(docs.filter(col("doc_id") < 300), 0.3), "jp 300/0.3")
    same(Dedup.jaccardPairsCached(spark, sf, 1000, 0.05),
      Dedup.jaccardPairs(docs.filter(col("doc_id") < 1000), 0.05),
      "jp 1000/0.05")
    same(Dedup.jaccardPairsCached(spark, sf, 1000, 0.3),
      Dedup.jaccardPairs(docs.filter(col("doc_id") < 1000), 0.3),
      "jp 1000/0.3")
    // MinHash: thresholds and id-bounded slices re-filter the cached
    // threshold-0 full-corpus frame (banding is per-doc, so a slice's
    // candidate set is exactly the id-restricted full set)
    same(Dedup.minhashCandidatesCached(spark, sf, 0.3),
      Dedup.minhashCandidates(docs, 0.3), "mh 0.3")
    same(Dedup.minhashCandidatesCached(spark, sf, 0.0, maxId = Some(1000)),
      Dedup.minhashCandidates(docs.filter(col("doc_id") < 1000), 0.0),
      "mh slice 1000")
    // SimHash: cached per hamming budget
    same(Dedup.simhashPairsCached(spark, sf, 2),
      Dedup.simhashPairs(docs, 2), "sh h2")
    // a slice or threshold outside the cached frame's reach refuses
    // loudly instead of silently serving a too-small pair set
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardPairsCached(spark, sf, 2000, 0.3)
    }
    assert(e.getMessage.contains("not derivable"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.jaccardPairsCached(spark, sf, 300, 0.01)
    }
    assert(e2.getMessage.contains("not derivable"))
  }

  test("pair index: append ≡ rebuild exactly; append IO is O(batch); crash replay idempotent; covered ids refused; reads recover a crashed swap") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val first = docs.filter(col("doc_id") % 3 =!= 0)
    val second = docs.filter(col("doc_id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("pair_idx").toString
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, what)
    // every (path → size, mtime) under the two artifacts — the append's
    // O(batch)-IO contract is that all of these stay byte-identical
    def fileState(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      Seq("pairs", "sigs").flatMap(t => walk(new java.io.File(s"$dir/$t")))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    def batchDirs(t: String): Set[String] =
      new java.io.File(s"$dir/$t").listFiles()
        .map(_.getName).filter(_.startsWith("batch=")).toSet
    Dedup.buildPairIndex(first, dir)
    val baseState = fileState()
    val baseBatches = batchDirs("sigs")
    // a crashed staging leak is invisible to readers and swept by the
    // next writer
    val leak = new java.io.File(s"$dir/pairs/_staging_deadbeef")
    leak.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(leak, "junk").toPath, "crashed build leftovers")
    Dedup.appendToPairIndex(spark, dir, second)
    assert(!leak.exists(), "next writer must sweep crashed stagings")
    // O(batch) publish IO: every pre-build file is untouched — the
    // append added new batch partitions and rewrote NOTHING
    val afterState = fileState()
    baseState.foreach { case (p, st) =>
      assert(afterState.get(p).contains(st),
        s"append rewrote or removed a pre-existing index file: $p")
    }
    assert(batchDirs("sigs").size == 2 && batchDirs("pairs").size == 2,
      "append must land as ONE new batch partition per artifact")
    // append ≡ rebuild at threshold 0 AND through a lossless re-filter
    same(Dedup.readPairIndex(spark, dir, 0.0),
      Dedup.minhashCandidates(docs, 0.0),
      "appended pair index diverges from a full rebuild")
    same(Dedup.readPairIndex(spark, dir, 0.5),
      Dedup.minhashCandidates(docs, 0.5),
      "threshold re-filter of the index diverges from the fresh operator")
    // crash replay: pairs committed, sigs not yet (the documented crash
    // window — sigs lags one op) — replaying the SAME batch must
    // converge on the same deterministic batch partition, not
    // double-count
    val secondTok = (batchDirs("sigs") -- baseBatches).head
    assert(org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$dir/sigs/$secondTok")))
    Dedup.appendToPairIndex(spark, dir, second)
    same(Dedup.readPairIndex(spark, dir, 0.0),
      Dedup.minhashCandidates(docs, 0.0),
      "replay after a mid-append crash must be idempotent")
    assert(batchDirs("pairs").size == 2,
      "a crash replay must overwrite its own batch partition, not add one")
    // a batch carrying covered doc_ids is refused loudly
    val e = intercept[RuntimeException] {
      Dedup.appendToPairIndex(spark, dir, second.limit(5))
    }
    assert(e.getMessage.contains("already"), s"got: ${e.getMessage}")
    // crashed REBUILD swap: a consumer read serves the backup without
    // repairing (appends never swap the tree; rebuilds do)
    val p = new java.io.File(dir + "/pairs")
    assert(p.renameTo(new java.io.File(dir + "/pairs__backup")))
    same(Dedup.readPairIndex(spark, dir, 0.0),
      Dedup.minhashCandidates(docs, 0.0), "backup recovery lost pairs")
    assert(!p.exists(), "a CONSUMER read must not repair the swap")
  }

  test("pair-index compaction folds batch partitions into one, preserves values, and appends keep working after it") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("pair_idx_c").toString
    def batchDirs(t: String): Set[String] =
      new java.io.File(s"$dir/$t").listFiles()
        .map(_.getName).filter(_.startsWith("batch=")).toSet
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, what)
    Dedup.buildPairIndex(docs.filter(col("doc_id") % 4 === 0), dir)
    Dedup.appendToPairIndex(spark, dir, docs.filter(col("doc_id") % 4 === 1))
    Dedup.appendToPairIndex(spark, dir, docs.filter(col("doc_id") % 4 === 2))
    assert(batchDirs("pairs").size == 3 && batchDirs("sigs").size == 3)
    val threeQuarters = docs.filter(col("doc_id") % 4 =!= 3)
    assert(Dedup.compactPairIndex(spark, dir) == 3)
    assert(batchDirs("pairs").size == 1 && batchDirs("sigs").size == 1,
      "compaction must fold the tree into one batch partition per artifact")
    same(Dedup.readPairIndex(spark, dir, 0.0),
      Dedup.minhashCandidates(threeQuarters, 0.0),
      "compaction changed the pair set")
    // a single-partition tree is a layout no-op: nothing is rewritten
    val before = batchDirs("pairs")
    assert(Dedup.compactPairIndex(spark, dir) == 1)
    assert(batchDirs("pairs") == before, "a 1-partition compact must no-op")
    // the maintenance loop continues over the compacted layout
    Dedup.appendToPairIndex(spark, dir, docs.filter(col("doc_id") % 4 === 3))
    same(Dedup.readPairIndex(spark, dir, 0.0),
      Dedup.minhashCandidates(docs, 0.0),
      "append after compaction diverges from a full rebuild")
  }

  test("dedup yield curve: exact removals/ppm on a constructed pair fixture, zero-removal thresholds included") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 1.0), (1L, 3L, 0.75), (2L, 4L, 0.5))
      .toDF("doc_a", "doc_b", "est_jaccard")
    val toks = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L))
      .toDF("doc_id", "toks")
    val got = Dedup.dedupYieldCurve(pairs, toks, Seq(8, 12, 16))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (8, 3L, 600000L, 90L, 600000L),     // {2,3,4}: 90 of 150 tokens
      (12, 2L, 400000L, 50L, 333333L),    // {2,3}
      (16, 1L, 200000L, 20L, 133333L)),   // {2}
      s"got $got")
    // a cutoff nothing reaches still yields a zero row (left-join axis)
    val withEmpty = Dedup.dedupYieldCurve(
      pairs.filter(col("est_jaccard") < 0.6), toks, Seq(16)).collect()
    assert(withEmpty.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((16, 0L)))
  }

  test("minhash calibration card: exact per-band error stats on a constructed fixture; below-floor mass counted, not averaged") {
    import spark.implicits._
    val est = Seq((1L, 2L, 1.0), (1L, 3L, 0.75), (2L, 4L, 0.5), (3L, 4L, 0.5))
      .toDF("doc_a", "doc_b", "est_jaccard")
    val exact = Seq((1L, 2L, 0.9), (1L, 3L, 0.7))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.minhashCalibrationCard(est, exact).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    assert(got == Seq(
      (8, 2L, 2L, -1L, -1L),              // both below the exact floor
      (12, 1L, 0L, 700000L, 50000L),      // exact 0.70, |0.75-0.70|
      (16, 1L, 0L, 900000L, 100000L)),    // exact 0.90, |1.00-0.90|
      s"got $got")
  }

  test("per-source dedup gain: non-keeper copies charged to their own source on a constructed fixture") {
    import spark.implicits._
    // "x" appears in BOTH sources: keeper is doc 1 (src a), so src a is
    // charged one copy (doc 2) and src b one copy (doc 3) — the
    // syndication case the per-source charge rule exists for
    val corpus = Seq(
      (1L, "a", "x", 10L), (2L, "a", "x", 20L),
      (3L, "b", "x", 30L), (4L, "b", "y", 40L))
      .toDF("doc_id", "source", "text", "toks")
    val got = Dedup.sourceDedupGain(corpus).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("a", 2L, 1L, 500000L, 20L, 666666L),
      ("b", 2L, 1L, 500000L, 30L, 428571L)), s"got $got")
  }

  test("embedding spectrum: a collapsed space reads effective dim 1; an isotropic pair reads 2") {
    import spark.implicits._
    // all variance on dim 0 (values 0/2 -> var 1), dims 1-3 constant
    val collapsed = Seq(
      (1L, Array(0f, 5f, 5f, 5f)), (2L, Array(2f, 5f, 5f, 5f)))
      .toDF("vec_id", "embedding")
    val c = Similarity.embeddingSpectrum(collapsed).collect()(0)
    assert(c.getInt(0) == 4 && c.getLong(1) == 1000000L)
    assert(c.getAs[Long]("top1_share_ppm") == 1000000L,
      "all variance mass must sit in the single varying dimension")
    assert(c.getAs[Long]("participation_centi") == 100L,
      "a rank-1 spectrum is effective dimension 1.00")
    // two equal-variance dims: participation 2.00, top1 exactly half
    val iso = Seq(
      (1L, Array(0f, 0f)), (2L, Array(2f, 2f)))
      .toDF("vec_id", "embedding")
    val i = Similarity.embeddingSpectrum(iso).collect()(0)
    assert(i.getAs[Long]("participation_centi") == 200L &&
      i.getAs[Long]("top1_share_ppm") == 500000L, s"got $i")
  }

  test("band-load audit from the maintained index's persisted signatures ≡ the text-scan audit") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("pair_idx_bl").toString
    Dedup.buildPairIndex(docs.filter(col("doc_id") % 3 =!= 0), dir)
    Dedup.appendToPairIndex(spark, dir,
      docs.filter(col("doc_id") % 3 === 0))
    // state-derived: zero text reads — the audit's plan must not touch
    // the documents table, only the index's sigs partitions
    val derived = Dedup.bandLoadFromIndex(spark, dir)
    assert(derived.queryExecution.executedPlan.toString
      .contains(s"$dir/sigs".stripPrefix("/")) ||
      derived.inputFiles.forall(_.contains("/sigs/")),
      "the derived audit must read the index's sigs, not the corpus")
    assert(derived.collect().toSeq ==
      Dedup.bandLoadAudit(docs).collect().toSeq,
      "state-derived band-load audit diverges from the text-scan audit")
  }

  test("band-load audit: exact card on a constructed fixture; collision volume bounds the candidate set on the corpus") {
    import spark.implicits._
    // three byte-identical docs share ALL four band keys (identical
    // signatures); the fourth is long/distinct enough to collide with
    // none — per band: 2 keys, a 3-bucket and a singleton, C(3,2)=3
    // collision pairs
    val same = "alpha beta gamma delta epsilon zeta"
    val fixture = Seq(
      (0L, same), (1L, same), (2L, same),
      (3L, "completely different words that share no trigram shingles at all"))
      .toDF("doc_id", "text")
    val card = Dedup.bandLoadAudit(fixture).collect()
    assert(card.length == 4, "one row per band")
    card.foreach { r =>
      assert(r.getAs[Long]("n_keys") == 2L, r.toString)
      assert(r.getAs[Long]("max_bucket") == 3L, r.toString)
      assert(r.getAs[Long]("n_singleton_keys") == 1L, r.toString)
      assert(r.getAs[Long]("collision_pairs") == 3L, r.toString)
    }
    // corpus-level invariant: the distinct candidate set is at most the
    // summed per-band collision volume (multi-band pairs dedupe), and
    // at least any single band's volume could admit — the audit's
    // collision_pairs IS the band join's pre-distinct output size
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val audit = Dedup.bandLoadAudit(docs).collect()
    val volume = audit.map(_.getAs[Long]("collision_pairs")).sum
    val candidates = Dedup.minhashCandidates(docs, 0.0).count()
    assert(candidates <= volume,
      s"distinct candidates $candidates exceed summed band volume $volume")
    assert(volume > 0, "the corpus has near-dup injections; volume must be > 0")
  }

  test("dup-mass card: exact buckets on a constructed fixture, empty buckets present as zeros") {
    import spark.implicits._
    // cluster sizes 1, 2, 3, 10 → total 16 docs
    val texts = Seq("solo") ++ Seq.fill(2)("pair") ++ Seq.fill(3)("trio") ++
      Seq.fill(10)("deca")
    val got = Dedup.dupMassCard(texts.toDF("text")).collect()
      .map(r => (r.getAs[Int]("k_floor"), r.getAs[String]("bucket"),
        r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("docs_ppm")))
    assert(got.toSeq == Seq(
      (1, "k=1", 1L, 1L, 62500L),
      (2, "k=2", 1L, 2L, 125000L),
      (3, "k=3-4", 1L, 3L, 187500L),
      (5, "k=5-9", 0L, 0L, 0L),
      (10, "k>=10", 1L, 10L, 625000L)), got.toSeq.toString)
  }

  test("vocab growth: exact curve on a constructed fixture; monotone and consistent on the corpus") {
    import spark.implicits._
    val fixture = Seq((0L, "a b"), (1L, "a c"), (2L, "a"), (3L, "d d"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(fixture).collect()
      .map(r => (r.getAs[Int]("quarter"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_distinct_tokens"), r.getAs[Long]("n_hapax"),
        r.getAs[Long]("ttr_ppm")))
    assert(got.toSeq == Seq(
      (1, 2L, 2L, 2L, 1000000L),
      (2, 4L, 3L, 2L, 750000L),
      (3, 5L, 3L, 2L, 600000L),
      (4, 7L, 4L, 2L, 571428L)), got.toSeq.toString)
    // corpus: both curves are non-decreasing in the prefix, and the full
    // prefix agrees with direct counts over all tokens
    val docs = Tables.documents(spark, sf)
    val curve = TextAnalysis.vocabGrowth(docs).collect()
    val tok = curve.map(_.getAs[Long]("n_tokens"))
    val dis = curve.map(_.getAs[Long]("n_distinct_tokens"))
    assert(tok.sameElements(tok.sorted) && dis.sameElements(dis.sorted),
      "prefix curves must be non-decreasing")
    val allToks = docs.select(explode(split(col("text"), " ")).as("t"))
    assert(tok.last == allToks.count(), "full prefix must count every token")
    assert(dis.last == allToks.distinct().count(),
      "full prefix must count every distinct type")
  }

  test("privacy pair coarsening: nested-width derivation equals the direct card, negatives included") {
    import graft.ext.Redaction
    // negative balances exercise the floor identity's sign edge:
    // floor(floor(-500/1000)/5) = floor(-1/5) = -1 = floor(-500/5000)
    val rows = Seq(("a", 1, "A", -500.0), ("b", 1, "A", -5500.0),
      ("c", 1, "B", 100.0), ("d", 2, "A", 4999.0), ("e", 2, "A", 5001.0))
    val df = spark.createDataFrame(rows).toDF("c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .withColumn("c_custkey", monotonically_increasing_id())
    val fromState = Redaction.kAnonymityFromPairs(
      Redaction.coarsenPrivacyPairs(Redaction.privacyPairs(df, 1000.0), 5))
    val direct = Redaction.kAnonymityCard(df) // registered width 5000
    assert(fromState.exceptAll(direct).count() == 0 &&
      direct.exceptAll(fromState).count() == 0,
      "coarsened 1000-band state must reproduce the 5000-band card exactly")
  }

  test("generalization sweep derives from the base-width state exactly; non-derivable widths refuse") {
    import graft.ext.Redaction
    // negatives + a boundary-straddling spread so every width regroups
    val rows = Seq(-750.0, -250.0, 100.0, 600.0, 1100.0, 4999.0, 5001.0,
      9999.0, 777.0, 777.0)
      .zipWithIndex.map { case (bal, i) =>
        (s"c$i", i % 3, if (i % 2 == 0) "A" else "B", bal)
      }
    val df = spark.createDataFrame(rows)
      .toDF("c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val fromState =
      Redaction.generalizationSweepFromPairs(Redaction.privacyPairs(df))
    val tableScan = Redaction.generalizationSweep(df)
    assert(fromState.exceptAll(tableScan).count() == 0 &&
      tableScan.exceptAll(fromState).count() == 0,
      "the state-derived sweep must equal the exploded-axis table scan")
    // ... and at the gate table too (sf0.001 customer), so the pin covers
    // real balance distributions, not just the fixture
    val cust = Tables.customer(spark, sf)
    val fs2 =
      Redaction.generalizationSweepFromPairs(Redaction.privacyPairs(cust))
    val ts2 = Redaction.generalizationSweep(cust)
    assert(fs2.exceptAll(ts2).count() == 0 && ts2.exceptAll(fs2).count() == 0,
      "state-derived sweep diverges from the table scan on customer")
    // a width chain whose finest row is NOT a multiple of the state's
    // base width cannot derive from the state — refuse loudly instead of
    // silently re-aggregating (the round-10 q194 escape)
    val e = intercept[IllegalArgumentException] {
      Redaction.generalizationSweepFromPairs(
        Redaction.privacyPairs(df), 1000, Seq(500, 1000, 5000, 10000))
    }
    assert(e.getMessage.contains("not derivable"))
    // ... and a state BUILT at the wrong width (labels would lie) fails
    // loudly at runtime via the state's self-describing band_width
    val wrong = intercept[Exception] {
      Redaction.generalizationSweepFromPairs(
        Redaction.privacyPairs(df, 1000.0)).collect()
    }
    assert(wrong.getMessage.contains("width mismatch"))
    // ... as does merging states built at different widths
    val badMerge = intercept[Exception] {
      Redaction.mergePrivacyPairs(
        Redaction.privacyPairs(df, 500.0),
        Redaction.privacyPairs(df, 1000.0)).collect()
    }
    assert(badMerge.getMessage.contains("width mismatch"))
  }

  test("privacy state: build + append ≡ rebuild; readers serve a crashed swap; the writer repairs it") {
    import graft.ext.Redaction
    val cust = Tables.customer(spark, sf)
    val first = cust.filter(col("c_custkey") % 2 === 0)
    val second = cust.filter(col("c_custkey") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("privacy_state").toString
    Redaction.buildPrivacyState(first, dir)
    Redaction.appendToPrivacyState(spark, dir, second)
    val merged = Redaction.readPrivacyState(spark, dir)
    val oneShot = Redaction.privacyPairs(cust)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "incremental privacy state must equal the one-shot build")
    // the full review — three cards + the sweep — re-publishes from the
    // persisted state with zero raw-table rescans
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$what from persisted state diverges from the table form")
    val st = Redaction.readPrivacyState(spark, dir)
    same(Redaction.kAnonymityFromPairs(Redaction.coarsenPrivacyPairs(st, 10)),
      Redaction.kAnonymityCard(cust), "q189")
    same(Redaction.lDiversityFromPairs(Redaction.coarsenPrivacyPairs(st, 2)),
      Redaction.lDiversityCard(cust), "q192")
    same(Redaction.tClosenessFromPairs(Redaction.coarsenPrivacyPairs(st, 2)),
      Redaction.tClosenessCard(cust), "q193")
    same(Redaction.generalizationSweepFromPairs(st),
      Redaction.generalizationSweep(cust), "q194")
    // crash window: state moved aside mid-publish — a CONSUMER read
    // serves the backup without repairing; the next writer op repairs
    val p = new java.io.File(dir + "/privacy")
    assert(p.renameTo(new java.io.File(dir + "/privacy__backup")))
    val recovered = Redaction.readPrivacyState(spark, dir)
    assert(recovered.exceptAll(oneShot).count() == 0,
      "backup recovery lost state")
    assert(!p.exists(), "a CONSUMER read must not repair the swap")
    Redaction.appendToPrivacyState(spark, dir, cust.limit(0))
    assert(p.exists(), "the writer must complete the crashed swap")
    val repaired = Redaction.readPrivacyState(spark, dir)
    assert(repaired.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(repaired).count() == 0)
  }

  test("privacy append: a wrong-width batch covering only NEW tuples is refused by the global width assert") {
    import graft.ext.Redaction
    val cust = Tables.customer(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("privacy_w").toString
    // state covers nations 0-11; the batch brings ONLY unseen nations,
    // so no tuple group overlaps and mergePrivacyPairs' per-group
    // min/max guard can never fire — the append-level assert must
    Redaction.buildPrivacyState(cust.filter(col("c_nationkey") < 12), dir)
    val e = intercept[RuntimeException] {
      Redaction.appendToPrivacyState(spark, dir,
        cust.filter(col("c_nationkey") >= 12), bandWidth = 1000.0)
    }
    assert(e.getMessage.contains("width mismatch"), s"got: ${e.getMessage}")
    // the right width still appends fine
    Redaction.appendToPrivacyState(spark, dir,
      cust.filter(col("c_nationkey") >= 12))
    val merged = Redaction.readPrivacyState(spark, dir)
    val oneShot = Redaction.privacyPairs(cust)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0)
  }

  test("pii state: build + append ≡ rebuild; incidence derives from state alone; crashed swap served from backup") {
    import graft.ext.Redaction
    // the q195 injection (deterministic PII planted into id slices) so
    // every counter is nonzero and differs per source
    val d = Tables.documents(spark, sf)
    val docs = d.select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 13 === 5,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 17 === 3,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-4242"))).otherwise(lit(""))).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("pii_state").toString
    Redaction.buildPiiState(docs.filter(col("doc_id") % 2 === 0), dir)
    Redaction.appendToPiiState(spark, dir, docs.filter(col("doc_id") % 2 === 1))
    val merged = Redaction.readPiiState(spark, dir)
    val oneShot = Redaction.piiPartials(docs)
    assert(merged.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(merged).count() == 0,
      "incremental pii state must equal the one-shot partials")
    // sanity: the injection actually planted PII (nonzero counters)
    assert(merged.agg(sum(col("n_emails"))).collect()(0).getLong(0) > 0)
    // the card derives from the state with zero corpus rescans
    val fromState = Redaction.incidenceFromPartials(merged)
    val batchCard = Redaction.piiIncidence(docs)
    assert(fromState.exceptAll(batchCard).count() == 0 &&
      batchCard.exceptAll(fromState).count() == 0,
      "state-derived incidence diverges from the batch card")
    // crash window: a consumer read serves the backup without repairing
    val p = new java.io.File(dir + "/pii")
    assert(p.renameTo(new java.io.File(dir + "/pii__backup")))
    val recovered = Redaction.readPiiState(spark, dir)
    assert(recovered.exceptAll(oneShot).count() == 0,
      "backup recovery lost pii state")
    assert(!p.exists(), "a CONSUMER read must not repair the swap")
    // the next writer op repairs and appends
    Redaction.appendToPiiState(spark, dir, docs.limit(0))
    assert(p.exists(), "the writer must complete the crashed swap")
  }

  test("l-diversity card: homogeneous groups land in l=1, diversity counted per group, row-weighted ppm exact") {
    import graft.ext.Redaction
    def cust(nation: Int, segs: Seq[String]) =
      segs.zipWithIndex.map { case (seg, i) => (s"c$nation$i", nation, seg, 100.0) }
    val rows = cust(1, Seq("A", "A", "A")) ++ // l=1 (homogeneous), k=3
      cust(2, Seq("A", "B")) ++ // l=2, k=2
      cust(3, Seq("A", "A", "B", "C")) ++ // l=3, k=4
      cust(4, Seq("A", "B", "C", "D", "E")) // l=5, k=5
    val df = spark.createDataFrame(rows).toDF("c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .withColumn("c_custkey", monotonically_increasing_id())
    val out = Redaction.lDiversityCard(df).collect()
      .map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("n_groups"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("rows_ppm"))).toMap
    assert(out("l=1") == (1L, 3L, 3000000L / 14))
    assert(out("l=2") == (1L, 2L, 2000000L / 14))
    assert(out("l=3-4") == (1L, 4L, 4000000L / 14))
    assert(out("l>=5") == (1L, 5L, 5000000L / 14))
  }

  test("t-closeness card: hand-computed TVD, absent-segment mass counted, row-weighted ppm exact") {
    import graft.ext.Redaction
    // nation 1: A,B (k=2, balanced) vs nation 2: all A (k=6).
    // Global A=7/8, B=1/8. TVD(n1) = 0.375 (>0.35 bucket),
    // TVD(n2) = 0.125 (<=0.20 bucket) — n2's missing segment B MUST
    // contribute |0 - 1/8| or the skew reads as closeness.
    val rows = Seq(("a1", 1, "A", 100.0), ("b1", 1, "B", 100.0)) ++
      (1 to 6).map(i => (s"a2$i", 2, "A", 100.0))
    val df = spark.createDataFrame(rows).toDF("c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .withColumn("c_custkey", monotonically_increasing_id())
    val out = Redaction.tClosenessCard(df).collect()
      .map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("n_groups"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("rows_ppm"))).toMap
    assert(out("t<=0.10") == (0L, 0L, 0L))
    assert(out("t<=0.20") == (1L, 6L, 750000L)) // nation 2 at 125000 ppm
    assert(out("t<=0.35") == (0L, 0L, 0L))
    assert(out("t>0.35") == (1L, 2L, 250000L)) // nation 1 at 375000 ppm
  }

  test("detector agreement: exact copies agree, reversed copies split, kappa exact; unanimous slice is NULL") {
    val docs = docsDf(
      1L -> "the quick brown fox jumps",
      2L -> "the quick brown fox jumps", // exact copy: both families flag
      3L -> "alpha beta gamma delta",
      4L -> "delta gamma beta alpha", // reversed: SimHash 0-hamming, shingles disjoint
      5L -> "zulu yankee xray whiskey victor") // unique: neither
      .withColumn("source", lit("s"))
    val r = Dedup.detectorAgreement(docs, 0.5, 2).collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getAs[Long]("n_both"), row.getAs[Long]("n_minhash_only"),
      row.getAs[Long]("n_simhash_only"), row.getAs[Long]("n_neither"))
      == ((2L, 0L, 2L, 1L)))
    // po=(2+1)/5, chance=(2)(4)+(3)(1)=11: kappa = 1e6*(5*3-11) div (25-11)
    assert(row.getAs[Long]("po_ppm") == 600000L)
    assert(row.getAs[Long]("pe_ppm") == 440000L)
    assert(row.getAs[Long]("kappa_ppm") == 4000000L / 14)
    // unanimous slice (nothing flagged): pe=1 is degenerate, kappa NULL
    val calm = docsDf(
      1L -> "one two three four",
      2L -> "five six seven eight",
      3L -> "nine ten eleven twelve").withColumn("source", lit("s"))
    val c = Dedup.detectorAgreement(calm, 0.5, 2).collect().head
    assert(c.getAs[Long]("po_ppm") == 1000000L)
    assert(c.isNullAt(c.fieldIndex("kappa_ppm")),
      "kappa over a unanimous slice must be NULL, not a fabricated number")
    // anti-correlated detectors -> NEGATIVE kappa: Spark `div` truncates
    // toward zero, and DuckDB 1.0 integer `//` does too (verified:
    // -8000000 // 12 = -666666 in both), so the floor-division finish is
    // cross-engine exact even below zero — pin Spark's value here
    val anti = docsDf(
      1L -> "the quick brown fox jumps",
      2L -> "the quick brown fox jumps", // exact pair: both flag
      3L -> "alpha beta gamma delta",
      4L -> "delta gamma beta alpha") // reversed pair: simhash only
      .withColumn("source", lit("s"))
    val a = Dedup.detectorAgreement(anti, 0.5, 2).collect().head
    // n=4, a=2, b=0, c=2, d=0: po=1/2, chance=(2)(4)+(2)(0)=8,
    // kappa = 1e6*(4*2-8) div (16-8) = 0 — and a 5-doc variant below
    // goes strictly negative
    assert(a.getAs[Long]("kappa_ppm") == 0L)
    val anti5 = docsDf(
      1L -> "the quick brown fox jumps",
      2L -> "the quick brown fox jumps",
      3L -> "alpha beta gamma delta",
      4L -> "delta gamma beta alpha",
      5L -> "omega psi chi phi upsilon") // neither
      .withColumn("source", lit("s"))
    val a5 = Dedup.detectorAgreement(anti5, 0.5, 2).collect().head
    // n=5, a=2, b=0, c=2, d=1: po=3/5, chance=(2)(4)+(3)(1)=11,
    // kappa = 1e6*(15-11) div (25-11) = 285714 (positive control reusing
    // the main fixture's cells) — the negative case needs mh-only mass,
    // which these detectors' nesting (exact copies flag BOTH) precludes
    // on small fixtures; the truncation claim is pinned by the 0-kappa
    // boundary plus the verified cross-engine -8000000 div/floor probe.
    assert(a5.getAs[Long]("kappa_ppm") == 4000000L / 14)
  }

  test("vocab coverage: hand-computed curve, tie classes exact, full coverage clamps") {
    val docs = docsDf(1L -> "a a a a b b c")
    val out = TextAnalysis.vocabCoverage(docs, Seq(1, 2, 3, 5)).collect()
      .map(r => r.getAs[Int]("budget") ->
        (r.getAs[Long]("covered_tokens"), r.getAs[Long]("coverage_ppm"),
          r.getAs[Long]("oov_ppm"))).toMap
    assert(out(1) == (4L, 4000000L / 7, 1000000L - 4000000L / 7))
    assert(out(2) == (6L, 6000000L / 7, 1000000L - 6000000L / 7))
    assert(out(3) == (7L, 1000000L, 0L), "budget = vocab size is full coverage")
    assert(out(5) == (7L, 1000000L, 0L), "budget past vocab size clamps")
    // tie class: b and d both have count 2 — the boundary mass is exact
    // regardless of which type a real tokenizer would admit
    val tie = docsDf(1L -> "a a a b b d d")
    val t = TextAnalysis.vocabCoverage(tie, Seq(2)).collect().head
    assert(t.getAs[Long]("covered_tokens") == 5L) // 3 (a) + 1·2 from the tie class
    assert(t.getAs[Long]("coverage_ppm") == 5000000L / 7)
  }

  test("bpe merge cache: cached table equals a fresh induction, and repeat calls hit the cache") {
    val fresh = TextAnalysis.bpeMerges(Tables.documents(spark, sf))
      .orderBy("round").collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("pair"),
        r.getAs[Long]("cnt"))).toSeq
    val cached = TextAnalysis.bpeMergesCached(spark, sf)
    assert(cached == fresh, s"cached $cached != fresh $fresh")
    // second call must return the SAME memoized instance (no re-induction)
    assert(TextAnalysis.bpeMergesCached(spark, sf) eq cached,
      "repeat call re-induced instead of hitting the cache")
  }

  test("ann recall audit: hit counts replay the set intersection, zero-hit queries present") {
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 10)
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("cand_id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = ids(Similarity.cosineTopK(queries, e, 5))
    val byMethod = Map(
      "lsh" -> ids(Similarity.annTopK(queries, e, 5)),
      "ivf" -> ids(Similarity.ivfTopK(queries, e, 5)))
    val audit = Similarity.annRecallAudit(queries, e, 5).collect()
    assert(audit.length == 20, "2 methods x 10 panel queries, no row dropped")
    audit.foreach { r =>
      val (m, q) = (r.getAs[String]("method"), r.getAs[Long]("query_id"))
      val expected = exact(q)
        .intersect(byMethod(m).getOrElse(q, Set.empty[Long])).size.toLong
      assert(r.getAs[Long]("n_hits") == expected,
        s"$m/$q n_hits ${r.getAs[Long]("n_hits")} != recomputed $expected")
      assert(r.getAs[Long]("recall_pct") == expected * 100 / 5)
    }
  }

  test("semantic decontamination: verdicts subset exact contamination, threshold respected") {
    val e = Tables.embeddings(spark, sf)
    val corpus = e.filter(col("label") =!= 0)
    val evalSet = e.filter(col("label") === 0)
    // exact contaminated set (brute force eval x corpus)
    val ev = evalSet.select(col("vec_id").as("eval_id"),
      col("embedding").as("ee"))
    val exact = corpus.select(col("vec_id").as("cand_id"),
        col("embedding").as("ce"))
      .crossJoin(broadcast(ev))
      .withColumn("cos", Similarity.cosine(col("ce"), col("ee")))
      .filter(col("cos") >= 0.4)
      .select("cand_id").distinct()
      .collect().map(_.getAs[Long]("cand_id")).toSet
    val out = Similarity.semanticDecontaminate(corpus, evalSet, 0.4).collect()
    assert(out.length == corpus.count().toInt, "audit covers every corpus row")
    val dropped = out.filter(_.getAs[Boolean]("dropped"))
    assert(dropped.map(_.getAs[Long]("vec_id")).toSet.subsetOf(exact),
      "cell scoping must never invent contamination")
    dropped.foreach { r =>
      assert(r.getAs[Double]("max_cos") >= 0.4 && r.getAs[Long]("n_evals_hit") >= 1L)
    }
    out.filterNot(_.getAs[Boolean]("dropped")).foreach { r =>
      assert(r.getAs[Long]("n_evals_hit") == 0L && r.isNullAt(r.fieldIndex("max_cos")))
    }
    if (exact.nonEmpty) {
      val recall = dropped.length.toDouble / exact.size
      assert(recall >= 0.3, s"semantic decontamination recall $recall")
    }
  }

  test("contamination card flags agree row-for-row with q65/q83/q98 (differential)") {
    def flagged(q: String, idCol: String, flagCol: String): Set[Long] =
      SparkEntry.queries(q)(spark, sf).collect()
        .filter(_.getAs[Boolean](flagCol))
        .map(_.getAs[Long](idCol)).toSet
    val ng = flagged("q65_decontaminate", "doc_id", "contaminated")
    val wn = flagged("q83_winnow_decontaminate", "doc_id", "contaminated")
    val sm = flagged("q98_semantic_decontaminate", "vec_id", "dropped")
    val card = SparkEntry.queries("q102_contamination_card")(spark, sf).collect()
    assert(card.nonEmpty)
    card.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Boolean]("ngram_hit") == ng.contains(id), s"ngram flag at $id")
      assert(r.getAs[Boolean]("winnow_hit") == wn.contains(id), s"winnow flag at $id")
      assert(r.getAs[Boolean]("semantic_hit") == sm.contains(id), s"semantic flag at $id")
      val n = Seq(ng, wn, sm).count(_.contains(id)).toLong
      assert(r.getAs[Long]("n_detectors") == n && r.getAs[Boolean]("flagged") == (n > 0))
    }
    // the card must cover the whole training slice, including docs no
    // detector can see
    val base = Tables.documents(spark, sf)
      .filter(col("doc_id") % 50 =!= 0).count()
    assert(card.length.toLong == base, "card must cover every training doc")
  }

  test("corpus integrity: missing embeddings, orphan vectors, and dim drift all surface") {
    import graft.ext.Integrity
    val docs = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "web"), Row(2L, "web"), Row(3L, "books")),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType))))
    val emb = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, Seq(1.0f, 2.0f)),           // matched, dim 2
        Row(3L, Seq(1.0f, 2.0f, 3.0f)),     // matched, dim 3 (drift)
        Row(9L, Seq(0.5f))),                // orphan (no doc 9)
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val out = Integrity.corpusIntegrity(docs, emb).collect()
      .map(r => (r.getAs[String]("entity"), r.getAs[String]("source")) -> r).toMap
    val web = out(("documents", "web"))
    assert(web.getAs[Long]("n_total") == 2 && web.getAs[Long]("n_matched") == 1 &&
      web.getAs[Long]("n_unmatched") == 1, "doc 2 has no embedding")
    assert(web.getAs[Int]("dim_min") == 2 && web.getAs[Int]("dim_max") == 2)
    val books = out(("documents", "books"))
    assert(books.getAs[Long]("n_matched") == 1 &&
      books.getAs[Int]("dim_min") == 3, "dim drift visible per source")
    val e = out(("embeddings", "(all)"))
    assert(e.getAs[Long]("n_total") == 3 && e.getAs[Long]("n_unmatched") == 1,
      "orphan vector 9 must be counted")
    assert(e.getAs[Int]("dim_min") == 1 && e.getAs[Int]("dim_max") == 3)
  }

  test("semantic near-dup: cell-scoped pairs are exact-subset; recall high on clustered data") {
    // the same degenerate-seed fixture as the IVF test: 4 tight clusters,
    // all 16 seeds inside cluster 0 — Lloyd refinement must spread the
    // cells so each cluster's near-dups land in ONE cell
    val dim = 8
    val rnd = new scala.util.Random(7)
    def point(cluster: Int, id: Long): Row = {
      val base = Array.fill(dim)(0.0f)
      base(cluster * 2) = 1.0f
      Row(id, base.map(c => c + (rnd.nextFloat() - 0.5f) * 0.05f).toSeq, cluster)
    }
    val rows = (0L until 25L).map(point(0, _)) ++
      (25L until 100L).map(id => point((id % 3 + 1).toInt, id))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val corpus = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val exact = Similarity.cosineNearDupPairs(corpus, 0.9).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val sem = Similarity.semanticNearDupPairs(corpus, 0.9).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(sem.subsetOf(exact), "cell scoping must never invent pairs")
    assert(exact.nonEmpty)
    val recall = sem.size.toDouble / exact.size
    // 16 cells over 4 clusters SUBDIVIDES each cluster, so in-cluster
    // pairs straddling sub-cells are missed — the cells-vs-cost dial
    // (fewer cells = higher recall, bigger cells). Observed ~0.77 here;
    // the floor guards against the degenerate-seed failure mode (all
    // cells in one region → scoping loses most structure entirely)
    assert(recall >= 0.5, s"SemDeDup recall on clustered corpus $recall")
  }

  test("embedding near-dup: lsh pairs are a subset of exact pairs with decent recall") {
    val exact = SparkEntry.queries("q45_embedding_neardup")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val lsh = SparkEntry.queries("q46_embedding_neardup_lsh")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(exact.nonEmpty, "no exact near-dup pairs at threshold — lower it")
    // the LSH path filters by the SAME exact cosine, so it can only miss
    assert(lsh.subsetOf(exact), s"lsh produced non-exact pairs: ${lsh.diff(exact)}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5, s"near-dup LSH recall $recall (${lsh.size}/${exact.size})")
  }

  test("filter funnel: stages chain (each n_in = previous n_kept), counts conserve") {
    val rows = SparkEntry.queries("q63_filter_funnel")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("min_length", "lang_en", "quality", "exact_dedup"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_in") ==
        r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped"), r.toString)
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("n_in") == a.getAs[Long]("n_kept"),
        s"funnel not chained: ${a} -> ${b}")
    }
    val total = Tables.documents(spark, sf).count()
    assert(rows.head.getAs[Long]("n_in") == total)
    assert(rows.last.getAs[Long]("n_kept") > 0, "funnel dropped everything")
  }

  test("corpus mixture: epoch repetition, fractional membership, determinism") {
    val docs = Tables.documents(spark, sf)
    val mixed = Sampling.mixCorpus(docs, "source", col("doc_id"),
      Seq("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.0), defaultWeight = 0.25)
    val bySrcCopy = mixed.groupBy("source", "copy").count().collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("copy")) -> r.getAs[Long]("count"))
      .toMap
    val n0 = docs.filter(col("source") === "src0").count()
    // weight 2.5: copies 0 and 1 contain EVERY src0 doc, copy 2 about half
    assert(bySrcCopy((("src0"), 0)) == n0 && bySrcCopy(("src0", 1)) == n0)
    val frac = bySrcCopy(("src0", 2)).toDouble / n0
    assert(frac > 0.3 && frac < 0.7, s"fractional copy kept $frac of src0")
    // weight 1.0 = exactly one copy, no fractional spill
    assert(!bySrcCopy.contains(("src1", 1)))
    // weight 0 drops the source entirely
    assert(!bySrcCopy.keys.exists(_._1 == "src2"))
    // per-record determinism: rerun is identical
    val again = Sampling.mixCorpus(docs, "source", col("doc_id"),
      Seq("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.0), defaultWeight = 0.25)
    val m = mixed.select("doc_id", "copy")
    val a = again.select("doc_id", "copy")
    assert(m.exceptAll(a).isEmpty && a.exceptAll(m).isEmpty)
  }

  test("sequence packing: offsets accumulate per shard, bins cut at the budget") {
    import spark.implicits._
    // single shard → one deterministic token stream: 5 docs × 1000 tokens,
    // budget 2048 ⇒ start offsets 0,1000,2000,3000,4000 ⇒ bins 0,0,0,1,1
    val docs = (1L to 5L).map(i => (i, Seq.fill(1000)("t").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = graft.ext.Packing.packSequences(docs, col("doc_id"),
      size(graft.ext.TextAnalysis.tokens(col("text"))), budget = 2048L, shards = 1)
      .orderBy("doc_id").collect()
    assert(packed.map(_.getAs[Long]("start_offset")).toSeq ==
      Seq(0L, 1000L, 2000L, 3000L, 4000L))
    assert(packed.map(_.getAs[Long]("bin")).toSeq == Seq(0L, 0L, 0L, 1L, 1L))
    // real corpus: every (shard, bin) except a shard's last bin packs at
    // least the budget's worth of starting space — bins are dense
    val q62 = SparkEntry.queries("q62_sequence_packing")(spark, sf).collect()
    assert(q62.nonEmpty)
    val byShard = q62.groupBy(_.getAs[Int]("shard"))
    byShard.foreach { case (shard, rows) =>
      val bins = rows.map(_.getAs[Long]("bin")).sorted
      assert(bins.head == 0L, s"shard $shard does not start at bin 0")
      assert(bins.toSeq == (0L until bins.length).toSeq,
        s"shard $shard has gaps in its bin sequence: ${bins.toSeq}")
    }
  }

  test("stratified sample: deterministic, correct rates, de kept whole") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val s1 = graft.ext.Sampling.stratifiedSample(docs, "lang", col("doc_id"),
      Seq("en" -> 20, "de" -> 100), defaultPct = 50)
    val s2 = graft.ext.Sampling.stratifiedSample(docs, "lang", col("doc_id"),
      Seq("en" -> 20, "de" -> 100), defaultPct = 50)
    assert(s1.exceptAll(s2).count() == 0 && s2.exceptAll(s1).count() == 0,
      "sample not deterministic across runs")
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sampled("de") == byLang("de"), "de stratum must be kept whole")
    val enRate = sampled("en").toDouble / byLang("en")
    assert(enRate > 0.08 && enRate < 0.35, s"en rate $enRate far from 20%")
  }

  test("all ext queries return rows at sf0.001") {
    Seq("q21_text_stats", "q26_exact_dedup", "q27_ngram_jaccard",
      "q28_minhash_lsh", "q30_embedding_norms", "q32_label_centroids")
      .foreach { q =>
        assert(SparkEntry.queries(q)(spark, sf).count() > 0, s"$q empty")
      }
  }

  test("decontamination: eval docs excluded, shared 4-gram flags the train doc") {
    // doc 0 is eval (0 % 10 == 0); doc 1 copies an eval 4-gram verbatim,
    // doc 2 shares no 4-gram with the eval slice
    val df = docsDf(
      0L -> "alpha beta gamma delta epsilon",
      1L -> "xx alpha beta gamma delta yy",
      2L -> "one two three four five six")
    val out = Dedup.evalContamination(df, evalMod = 10, n = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hit"), r.getAs[Boolean]("contaminated"))).toMap
    assert(!out.contains(0L), "eval doc must not appear in the audited set")
    assert(out(1L)._1 == 1L && out(1L)._2, "doc 1 shares 'alpha beta gamma delta'")
    assert(out(2L)._1 == 0L && !out(2L)._2)
  }

  test("repetition filter: degenerate doc dropped, diverse doc kept") {
    val rep = SparkEntry.queries("q67_repetition_filter")(spark, sf)
    val rows = rep.collect()
    assert(rows.nonEmpty)
    val kept = rows.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < rows.length,
      s"thresholds degenerate: $kept/${rows.length} kept")
    // metric sanity on every row: fractions in [0,1], top-token implies dup
    rows.foreach { r =>
      val t = r.getAs[Double]("top_token_frac")
      val d = r.getAs[Double]("dup_token_frac")
      assert(t > 0 && t <= 1 && d >= 0 && d < 1)
    }
  }

  test("tfidf: a token unique to one doc outranks corpus-wide tokens") {
    val out = SparkEntry.queries("q68_tfidf_terms")(spark, sf).collect()
    val perDoc = out.groupBy(_.getAs[Long]("doc_id"))
    assert(perDoc.values.forall(_.length <= 3))
    perDoc.values.foreach { rs =>
      val scores = rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Double]("tfidf"))
      assert(scores.sameElements(scores.sortBy(-_)), "rank order must follow score")
    }
    // rarer token (lower df) at equal tf/doc beats a ubiquitous one
    val byTok = out.groupBy(_.getAs[String]("token"))
      .view.mapValues(_.head.getAs[Long]("df")).toMap
    assert(byTok.nonEmpty)
  }

  test("redaction: nulls preserved, domain kept, pseudonyms deterministic") {
    import graft.ext.Redaction
    val r1 = SparkEntry.queries("q66_pii_redact")(spark, sf).collect()
    val nullNames = r1.filter(_.isNullAt(1))
    assert(nullNames.nonEmpty, "dirty domain must carry null names (%83)")
    nullNames.foreach(r => assert(r.getAs[Int]("n_redacted") == 1))
    r1.filterNot(_.isNullAt(1)).take(50).foreach { r =>
      assert(r.getAs[String]("customer_name_redacted").startsWith("user_"))
      assert(r.getAs[String]("customer_email_redacted")
        .endsWith("@" + r.getAs[String]("email_domain")))
      assert(r.getAs[Int]("n_emails_in_text") == 1)
    }
    // determinism: same source value → same pseudonym across calls
    val r2 = SparkEntry.queries("q66_pii_redact")(spark, sf).collect()
    assert(r1.map(_.getString(1)).sameElements(r2.map(_.getString(1))))
  }

  test("incremental dedup: verbatim copy rejected exact, near-copy rejected near, fresh admitted") {
    // corpus docs end in id%10 != 7; batch ids end in 7
    val df = docsDf(
      1L -> "w1 w2 w3 w4 w5 w6 w7 w8",
      2L -> "z1 z2 z3 z4 z5 z6 z7 z8",
      17L -> "w1 w2 w3 w4 w5 w6 w7 w8", // exact copy of doc 1
      27L -> "z1 z2 z3 z4 z5 z6 z7 EXTRA", // near-copy of doc 2
      37L -> "q1 q2 q3 q4 q5 q6 q7 q8") // fresh
    val out = Dedup.admitBatch(
      graft.ext.CorpusIndex.of(df.filter(col("doc_id") % 10 =!= 7)),
      df.filter(col("doc_id") % 10 === 7), minJaccard = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("decision")).toMap
    assert(out == Map(17L -> "reject_exact", 27L -> "reject_neardup", 37L -> "admit"))
  }

  test("incremental dedup: batch-internal copies keep only the first occurrence") {
    val df = docsDf(
      1L -> "c1 c2 c3 c4 c5 c6",
      47L -> "n1 n2 n3 n4 n5 n6",
      57L -> "n1 n2 n3 n4 n5 n6") // verbatim copy of 47 INSIDE the batch
    val out = Dedup.admitBatch(
      graft.ext.CorpusIndex.of(df.filter(col("doc_id") % 10 =!= 7)),
      df.filter(col("doc_id") % 10 === 7), minJaccard = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("decision")).toMap
    assert(out(47L) == "admit", "first occurrence must win")
    assert(out(57L) == "reject_exact", "batch-internal copy must reject")
  }

  test("redaction fails closed on values without '@'") {
    import graft.ext.Redaction
    val df = docsDf(1L -> "x").select(
      Redaction.maskEmail(lit("john.smith.1977")).as("masked"),
      Redaction.emailDomain(lit("john.smith.1977")).as("domain"),
      Redaction.maskEmail(lit("a@b.com")).as("ok"))
    val r = df.collect().head
    assert(!r.getAs[String]("masked").contains("john"),
      "raw PII leaked through the mask")
    assert(r.isNullAt(1), "'@'-less value must yield a null domain, not the raw value")
    assert(r.getAs[String]("ok").endsWith("@b.com"))
  }

  test("data card: strata shares sum to 1, totals conserve the corpus") {
    val card = SparkEntry.queries("q72_data_card")(spark, sf).collect()
    val totalDocs = card.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs == Tables.documents(spark, sf).count())
    val pctSum = card.map(_.getAs[Double]("pct_docs")).sum
    assert(math.abs(pctSum - 1.0) < 0.01, s"pct_docs sums to $pctSum")
    assert(card.forall(_.getAs[Long]("n_tokens") > 0))
  }

  test("document chunks tile the token stream: stride spacing, full coverage") {
    val chunks = SparkEntry.queries("q73_document_chunks")(spark, sf).collect()
    val toks = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").length).toMap
    chunks.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_.getAs[Int]("chunk_idx"))
      val starts = sorted.map(_.getAs[Int]("start_token"))
      assert(starts.head == 1 && starts.sliding(2).forall {
        case Array(a, b) => b - a == 24; case _ => true })
      val last = sorted.last
      assert(last.getAs[Int]("start_token") + last.getAs[Int]("n_chunk_tokens") - 1
        == toks(doc), s"doc $doc chunks don't reach the last token")
      // no redundant tail: every non-final chunk must stop short of the
      // end, else the final chunk would be a strict subset of it
      sorted.init.foreach { c =>
        assert(c.getAs[Int]("start_token") + c.getAs[Int]("n_chunk_tokens") - 1
          < toks(doc), s"doc $doc emits a chunk fully contained in an earlier one")
      }
    }
  }

  test("quantization: values inside int8 range, absmax dim hits exactly ±127") {
    val out = SparkEntry.queries("q74_embedding_quantize")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (mx, mn) = (r.getAs[Long]("max_q"), r.getAs[Long]("min_q"))
      assert(mx <= 127 && mn >= -127, s"vec ${r.get(0)} out of int8 range")
      assert(mx == 127 || mn == -127,
        s"vec ${r.get(0)} absmax dim must quantize to a saturated value")
      assert(r.getAs[Double]("scale") > 0)
    }
  }

  test("lm score: hand-computed bigram probabilities, consistent doc outranks rare one") {
    import graft.ext.LmScore
    // model from both docs: c(a,b)=2, c(a,c)=1 → P(b|a)=2/3, P(c|a)=1/3;
    // c(b,a)=1 → P(a|b)=1. doc 1 bigrams ab,ba,ab → mean (2/3+1+2/3)/3;
    // doc 2 bigram ac → mean 1/3. micro-quantized: 666667/1000000/333333
    val df = docsDf(1L -> "a b a b", 2L -> "a c")
    val out = LmScore.scoreDocs(df, minMeanProb = 0.5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("mean_prob"), r.getAs[Boolean]("low_quality"))).toMap
    assert(out(1L)._1 == 0.777778 && !out(1L)._2)
    assert(out(2L)._1 == 0.333333 && out(2L)._2)
  }

  test("pruned lm model: K entries per prefix; un-pruned K reproduces the exact scorer") {
    import graft.ext.LmScore
    val docs = Tables.documents(spark, sf)
    // pruning contract: at most K continuations survive per prefix, and
    // they are the top-K by count (spot-check: every kept p_micro >= any
    // dropped one for the same prefix is implied by row_number order —
    // assert the per-prefix cap, the cheap observable)
    val perPrefix = LmScore.prunedBigramModel(docs, k = 2)
      .groupBy("a").count().agg(max("count")).collect().head.getLong(0)
    assert(perPrefix <= 2, s"pruned model kept $perPrefix continuations for a prefix")
    // with K above any prefix's fan-out nothing is pruned: the pruned
    // scorer must reproduce the exact scorer value-for-value (n_hits ==
    // n_bigrams everywhere proves the left probe never missed)
    val exact = LmScore.scoreDocs(docs, minMeanProb = 0.033)
      .orderBy("doc_id").collect()
    val unpruned = LmScore.scoreDocsPruned(docs, k = Int.MaxValue)
      .orderBy("doc_id").collect()
    assert(exact.length == unpruned.length)
    exact.zip(unpruned).foreach { case (e, p) =>
      assert(p.getAs[Long]("n_hits") == p.getAs[Long]("n_bigrams"),
        s"doc ${p.get(0)}: probe missed with nothing pruned")
      assert(e.getAs[Double]("mean_prob") == p.getAs[Double]("mean_prob")
        && e.getAs[Boolean]("low_quality") == p.getAs[Boolean]("low_quality"),
        s"doc ${p.get(0)}: pruned(∞) != exact")
    }
  }

  test("normalized dedup collapses reformatted copies the raw fingerprint misses") {
    import graft.ext.Dedup
    val docs = docsDf(1L -> "hello world", 2L -> "HELLO,  world!!",
      3L -> "different text")
    val groups = Dedup.normalizedDedupGroups(docs).collect()
      .map(r => r.getAs[Long]("keeper_doc_id") -> r).toMap
    assert(groups.size == 2, s"expected 2 normalized groups: ${groups.keys}")
    assert(groups(1L).getAs[Long]("n_copies") == 2
      && groups(1L).getAs[Long]("n_raw_variants") == 2,
      "reformatted copy must share the normalized group while differing raw")
    assert(groups(3L).getAs[Long]("n_copies") == 1)
    // the raw-byte dedup (q26's operator) sees three distinct docs —
    // the gap this operator exists to close
    assert(Dedup.exactDedupGroups(docs).count() == 3)
  }

  test("winnowing: a misaligned shared substring is guaranteed a common fingerprint") {
    import graft.ext.Dedup
    // 8 tokens = WinnowWindow + WinnowGram - 1, the guarantee threshold:
    // the run yields exactly one full window of identical gram hashes in
    // BOTH docs regardless of its offset, and that window's min is
    // selected in both — this is what q80's non-overlapping spans miss
    // when a copied passage lands at a different token offset
    val shared = "one two three four five six seven eight"
    val docs = docsDf(
      1L -> s"$shared tail junk words here",
      2L -> s"pre alpha beta $shared",
      3L -> "totally unrelated text with nothing in common at all")
    val fps = Dedup.winnowFingerprints(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("fp")).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty,
      "guarantee violated: shared 8-token run selected no common fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    val pairs = Dedup.winnowPairs(docs, minShared = 1).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("winnow decontamination: absorbed eval run >= threshold always registers; density below every-gram") {
    import graft.ext.Dedup
    // doc 50 is the eval doc (doc_id % 50 == 0); doc 7 absorbed an
    // 8-token run from it (= WinnowWindow + WinnowGram - 1, the guarantee
    // length); doc 9 shares nothing
    val run = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = docsDf(
      50L -> s"$run india juliet kilo lima",
      7L -> s"intro words here $run closing words",
      9L -> "nothing shared with the eval document at all whatsoever today")
    val out = Dedup.winnowDecontaminate(docs, evalMod = 50).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(7L).getAs[Boolean]("contaminated"),
      "guarantee violated: absorbed 8-token eval run not flagged")
    assert(!out(9L).getAs[Boolean]("contaminated"))
    assert(!out.contains(50L), "eval docs must not appear in the audited corpus")
    // the density win q83 exists for: strictly fewer audited fingerprints
    // than q65-style every-position grams (n - k + 1 of them)
    val nGrams7 = out(7L) // doc 7 has 14 tokens -> 11 4-grams
    assert(nGrams7.getAs[Long]("n_fps") < 11,
      s"selection did not thin the gram stream: ${nGrams7.getAs[Long]("n_fps")}")
  }

  test("span dedup: cross-doc boilerplate removed everywhere, unique spans survive") {
    import graft.ext.Dedup
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // "the cookie banner" spans 4 distinct docs (> maxDocFreq 2) → removed
    // from every doc, including doc 5 which consists of nothing else
    val docs = docsDf(
      1L -> "the cookie banner alpha beta gamma",
      2L -> "the cookie banner delta epsilon zeta",
      3L -> "the cookie banner eta theta iota",
      4L -> "unique words only here",
      5L -> "the cookie banner")
    val out = Dedup.dedupSpans(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L, 2L, 3L).foreach { id =>
      assert(out(id).getAs[Long]("n_spans") == 2
        && out(id).getAs[Long]("n_removed") == 1, out(id))
    }
    assert(out(1L).getAs[String]("kept_md5") == md5Hex("alpha beta gamma"))
    // untouched doc reassembles to its own text (partial tail span kept)
    assert(out(4L).getAs[Long]("n_removed") == 0
      && out(4L).getAs[String]("kept_md5") == md5Hex("unique words only here"))
    // all-boilerplate doc stays accounted, reassembles to the empty string
    assert(out(5L).getAs[Long]("n_kept_spans") == 0
      && out(5L).getAs[String]("kept_md5") == md5Hex(""))
  }

  test("budget selection: greedy quality prefix, exact under repartitioning") {
    import graft.ext.Selection
    val docs = Tables.documents(spark, sf)
    val out = Selection.selectUnderBudget(docs, budgetTokens = 500L).collect()
    val sel = out.filter(_.getAs[Boolean]("selected"))
    val unsel = out.filterNot(_.getAs[Boolean]("selected"))
    assert(sel.nonEmpty && unsel.nonEmpty, "budget must split the corpus for this test")
    // greedy prefix: the selection crosses the budget by at most the
    // boundary doc, and never stops short of it
    val tot = sel.map(_.getAs[Long]("n_tokens")).sum
    val maxSel = sel.map(_.getAs[Long]("n_tokens")).max
    assert(tot >= 500L && tot - maxSel < 500L, s"greedy boundary violated: tot=$tot")
    // band dominance: every doc in a band strictly above the lowest
    // selected band must itself be selected (the order is band DESC)
    val minSelBand = sel.map(_.getAs[Int]("band")).min
    unsel.foreach(r => assert(r.getAs[Int]("band") <= minSelBand,
      s"doc ${r.get(0)} in band ${r.get(1)} skipped below band $minSelBand"))
    // the two-level prefix sum must not depend on physical layout
    val re = Selection.selectUnderBudget(docs.repartition(7), budgetTokens = 500L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("selected")).toMap
    assert(out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("selected")).toMap == re,
      "selection changed under repartitioning")
  }

  test("leakage-safe split: near-dup clusters never straddle the train/test boundary") {
    import graft.ext.{Dedup, Sampling}
    import org.apache.spark.sql.functions.{col => c}
    // 40 identical docs (one near-dup cluster) + distinct singletons; the
    // per-doc split WOULD scatter the cluster across splits — that's the
    // leakage the operator exists to prevent
    val shared = "the exact same document text repeated verbatim in every copy here"
    val docs = docsDf(
      ((1L to 40L).map(_ -> shared) ++
        (100L to 120L).map(i => i -> s"singleton number $i with its own words entirely")): _*)
    val out = Sampling.leakageSafeSplit(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("split"), r.getAs[Boolean]("clustered"))).toMap
    val clusterSplits = (1L to 40L).map(out(_)._1).toSet
    assert(clusterSplits.size == 1,
      s"cluster members landed in multiple splits: $clusterSplits")
    assert((1L to 40L).forall(out(_)._2), "cluster members must be flagged")
    // non-vacuity: the naive per-doc assignment scatters those same ids
    val naive = docs.select(c("doc_id"),
        Sampling.assignSplit(c("doc_id")).as("split"))
      .collect().filter(_.getLong(0) <= 40L).map(_.getString(1)).toSet
    assert(naive.size > 1, "fixture too small to demonstrate the leakage fix")
    // singletons keep their stable per-doc assignment (no spurious coupling)
    (100L to 120L).foreach { i =>
      assert(!out(i)._2, s"singleton $i wrongly clustered")
    }
    // sanity: the pair source really is the banded path (no text self-join)
    assert(Dedup.minhashCandidates(docs, 0.5).count() >= (40 * 39) / 2 * 0.9,
      "identical docs must band-collide")
  }

  test("corpus build manifest: unique docs, funnel-consistent, bins monotone per shard") {
    import graft.ext.CorpusBuild
    val m = SparkEntry.queries("q75_corpus_build")(spark, sf).collect()
    assert(m.nonEmpty)
    val ids = m.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length, "manifest emits a doc twice")
    assert(m.forall(_.getAs[Long]("n_tokens") > 0))
    assert(m.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "val", "test")))
    // bins grow monotonically with doc_id inside each (split, shard)
    m.groupBy(r => (r.getAs[String]("split"), r.getAs[Int]("shard"))).foreach {
      case (_, rs) =>
        val bins = rs.sortBy(_.getAs[Long]("doc_id")).map(_.getAs[Long]("bin"))
        assert(bins.head == 0 && bins.sliding(2).forall {
          case Array(a, b) => b >= a; case _ => true })
    }
    // composition consistency: every manifest doc passes the q63 funnel
    // rules (the funnel's own kept-count is an upper bound: the manifest
    // additionally drops near-dups)
    val funnelKept = SparkEntry.queries("q63_filter_funnel")(spark, sf)
      .filter(col("stage") === "exact_dedup").collect().head.getAs[Long]("n_kept")
    assert(m.length <= funnelKept,
      s"manifest (${m.length}) exceeds the funnel's kept set ($funnelKept)")
  }

  test("corpus build: banded near-dup (q77) reproduces the exact manifest (q75)") {
    // the sub-quadratic MinHash-band stage must be a drop-in for the exact
    // pair join: identical manifest on the gate corpus (row-for-row — both
    // are totally ordered by doc_id). At larger SFs the estimator's
    // near-threshold false positives can drop a handful of extra docs
    // (sf0.1: 1810 vs 1816) — the conservative direction for dedup; both
    // forms stay oracle-pinned there independently.
    val exact = SparkEntry.queries("q75_corpus_build")(spark, sf).collect()
    val banded = SparkEntry.queries("q77_corpus_build_banded")(spark, sf).collect()
    assert(exact.length == banded.length,
      s"manifest sizes diverge: exact=${exact.length} banded=${banded.length}")
    exact.zip(banded).foreach { case (e, b) =>
      assert(e.toSeq == b.toSeq, s"manifest row diverges: $e vs $b")
    }
  }

  test("ivf index: probe-after-build ≡ inline ivf top-k; cells scan prunes to probed cells") {
    val e = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.buildIvfIndex(e, dir)
    val queries = e.filter(col("vec_id") < 6)
    def key(r: Row) = (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
      r.getAs[Long]("cand_id"), r.getAs[Double]("cosine"))
    val inline = Similarity.ivfTopK(queries, e, 5).collect().map(key).toSet
    val probe = Similarity.probeIvfIndex(spark, dir, queries, 5)
    assert(probe.collect().map(key).toSet == inline,
      "persisted-index probe diverges from the inline IVF form")
    // the probe must NOT have read the whole index: the cells scan is
    // statically restricted to the probed cells, so planning-time
    // partition pruning skips the rest of the files
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE hides scans inside materialized query stages — collectLeaves
    // stops at the stage boundary, so walk through them explicitly
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case o => o.children.flatMap(scans)
    }
    val scan = scans(probe.queryExecution.executedPlan).find(
      _.relation.location.rootPaths.exists(_.toString.contains("cells")))
      .getOrElse(fail("no cells scan in probe plan"))
    val scanned = scan.metrics("numFiles").value
    val total = spark.read.parquet(s"$dir/cells").inputFiles.length
    assert(scanned < total,
      s"probe read all $total index files; pruning is the point of the layout")
  }

  test("ivf index drift audit: fresh build is clean; a concentrated append trips the rebuild trigger") {
    val e = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("ivf_drift").toString
    Similarity.buildIvfIndex(e, dir)
    val fresh = Similarity.ivfIndexDriftAudit(spark, dir).collect()
    assert(fresh.nonEmpty && fresh.length <= Similarity.IvfCells)
    assert(fresh.forall(!_.getAs[Boolean]("needs_rebuild")),
      s"fresh index must not need a rebuild:\n${fresh.mkString("\n")}")
    // drifted append: clone ONE vector total/2 times under fresh ids —
    // all land in a single cell, exploding its occupancy far past
    // IvfOccSkewMax × balance and dragging its mean onto the clone
    val nTotal = e.count()
    val seed = e.orderBy("vec_id").limit(1)
    val clones = seed.crossJoin(
        spark.range(nTotal / 2).select(col("id")))
      .select((col("id") + 500000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(spark, dir, clones)
    val drifted = Similarity.ivfIndexDriftAudit(spark, dir).collect()
    val flagged = drifted.filter(_.getAs[Boolean]("needs_rebuild"))
    assert(flagged.nonEmpty,
      s"concentrated append must trip the trigger:\n${drifted.mkString("\n")}")
    // the flagged cell is the one that swallowed the clones: it holds the
    // max occupancy, above the skew threshold
    val hot = drifted.maxBy(_.getAs[Long]("n_vecs"))
    assert(hot.getAs[Boolean]("needs_rebuild") &&
      hot.getAs[Double]("occ_ratio") > Similarity.IvfOccSkewMax,
      s"hot cell not flagged for occupancy skew: $hot")
  }

  test("ivf index append: new vectors are probe-visible; untouched cells unchanged") {
    val e = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("ivf_app").toString
    Similarity.buildIvfIndex(e, dir)
    def cellFiles(): Map[String, Set[String]] =
      spark.read.parquet(s"$dir/cells").inputFiles.toSet
        .groupBy(f => f.substring(f.indexOf("cell_id=")).takeWhile(_ != '/'))
    val before = cellFiles()
    // append exact clones of the query vectors under fresh ids: each
    // clone lands in its original's cell and must dominate the probe
    val queries = e.filter(col("vec_id") < 6)
    Similarity.appendToIvfIndex(spark, dir,
      queries.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    val after = cellFiles()
    // append-only: cells that received no clone keep identical file sets
    val touched = after.keys.filter(c => after(c) != before.getOrElse(c, Set()))
      .toSet
    assert(touched.nonEmpty && touched.size < after.size,
      s"append must touch some cells and spare the rest (touched ${touched.size}/${after.size})")
    before.foreach { case (cell, files) =>
      if (!touched.contains(cell))
        assert(after(cell) == files, s"untouched cell $cell rewritten")
    }
    // at-least-once REPLAY of the same batch is idempotent: the
    // deterministic batch token overwrites its own partition instead of
    // double-inserting (a bare append would silently inflate the drift
    // audit's occupancy)
    val rowsAfterFirst = spark.read.parquet(s"$dir/cells").count()
    val batchDirsAfterFirst = new java.io.File(s"$dir/cells").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    Similarity.appendToIvfIndex(spark, dir,
      queries.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    assert(spark.read.parquet(s"$dir/cells").count() == rowsAfterFirst,
      "replaying an appended batch must not duplicate vectors")
    assert(new java.io.File(s"$dir/cells").listFiles()
        .map(_.getName).filter(_.startsWith("batch=")).toSet ==
      batchDirsAfterFirst,
      "a replay must overwrite its own batch partition, not add one")
    // probe-visible at rank 1: an identical vector has cosine 1.0 and the
    // clone shares its original's cell, which is always among the probes
    val top = Similarity.probeIvfIndex(spark, dir, queries, 1).collect()
    queries.select("vec_id").collect().map(_.getLong(0)).foreach { q =>
      val r = top.find(_.getAs[Long]("query_id") == q)
        .getOrElse(fail(s"query $q missing from probe"))
      assert(r.getAs[Long]("cand_id") == q + 100000L
          && r.getAs[Double]("cosine") == 1.0,
        s"query $q rank-1 is ${r.getAs[Long]("cand_id")} (${r.getAs[Double]("cosine")}), not its clone")
    }
  }

  test("source overlap matrix: attributes near-dup pairs to source pairs") {
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val rows = Seq(
      Row(1L, t, "srcA"), Row(2L, t, "srcB"), Row(3L, t, "srcA"),
      Row(4L, "totally different words nothing shared here at all by anyone ever",
        "srcB"))
    val docs = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("source", StringType))))
    val m = Dedup.sourceOverlapMatrix(docs).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Double]("avg_est")))).toMap
    // identical docs 1,3 in srcA; their twin 2 in srcB; 4 unrelated
    assert(m(("srcA", "srcA"))._1 == 1L, s"within-A pair missing: $m")
    assert(m(("srcA", "srcB"))._1 == 2L, s"cross-pair count wrong: $m")
    assert(!m.contains(("srcB", "srcB")), s"spurious within-B pair: $m")
    m.values.foreach { case (_, est) => assert(est == 1.0, s"identical docs est: $m") }
  }

  test("source cap: two-phase top-K equals the naive single window") {
    import graft.ext.Selection
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf)
    val k = 3
    // naive form: ONE window over each source's full row set — the plan
    // the two-phase operator exists to avoid; affordable here, which is
    // what makes it the differential oracle
    val (lenScore, ttr, stopRatio) = TextAnalysis.qualityParts(col("text"))
    val q = TextAnalysis.qualityScore(lenScore, ttr, stopRatio)
    val w = Window.partitionBy("source")
      .orderBy(col("band").desc, col("doc_id"))
    val naive = docs
      .select(col("doc_id"), col("source"),
        floor(q * Selection.SelectBands).cast("int").as("band"))
      .withColumn("src_rank", row_number().over(w).cast("long"))
      .filter(col("src_rank") <= k)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("src_rank")).toMap
    // bucketed form, with few buckets so phase-1 pruning actually bites
    val capped = Selection.capPerSource(docs, k = k, buckets = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("src_rank")).toMap
    assert(capped == naive, "two-phase cap diverges from the single-window form")
    // and the cap binds: no source exceeds k
    val bySource = Selection.capPerSource(docs, k = k, buckets = 4)
      .groupBy("source").count().collect()
    bySource.foreach(r => assert(r.getAs[Long]("count") <= k))
  }

  test("tier sample: decisions match an independent md5 replay, all high kept") {
    import graft.ext.Sampling
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val out = Sampling.qualityTierSample(Tables.documents(spark, sf)).collect()
    val rates = Sampling.TierRates.toMap
    assert(out.map(_.getAs[String]("tier")).toSet.size >= 2,
      "corpus must span tiers for this test")
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val bucket = (java.lang.Long.parseLong(
        md5Hex(s"tier:$id").take(8), 16) % 100).toInt
      val expected = bucket < rates(r.getAs[String]("tier"))
      assert(r.getAs[Boolean]("kept") == expected,
        s"doc $id tier ${r.get(1)}: kept=${r.get(2)}, replay says $expected")
    }
    out.filter(_.getAs[String]("tier") == "high")
      .foreach(r => assert(r.getAs[Boolean]("kept"), s"high doc ${r.get(0)} dropped"))
  }

  test("token mixture: per-doc copy counts match an exact integer replay") {
    import graft.ext.Sampling
    def md5Bucket(s: String): Int =
      (java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8), 16)
        % 100).toInt
    val docs = Tables.documents(spark, sf)
    val toks = docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // replay the rate table with exact integer arithmetic — the property
    // the operator buys by never materializing a double weight
    val total = toks.map(_._3).sum
    val bySrc = toks.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val shares = Sampling.TokenShares.toMap
    val expected = toks.map { case (id, src, _) =>
      val s = bySrc(src)
      val t = total * shares.getOrElse(src, 0) / 100
      val full = t / s
      val pct = t % s * 100 / s
      id -> (full + (if (md5Bucket(s"tokmix:$id") < pct) 1L else 0L))
    }.toMap
    val got = Sampling.tokenMixture(docs).groupBy("doc_id").count()
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("count")).toMap
    expected.foreach { case (id, n) =>
      assert(got.getOrElse(id, 0L) == n, s"doc $id: got ${got.get(id)}, expected $n")
    }
    // the achieved shares land: each listed source's token volume is
    // within one fractional-bucket's noise of its target
    val achieved = toks.groupBy(_._2).view.mapValues { rows =>
      rows.map { case (id, src, n) => expected(id) * n }.sum
    }.toMap
    Sampling.TokenShares.foreach { case (src, pct) =>
      val target = total * pct / 100
      val a = achieved.getOrElse(src, 0L)
      // deterministic, but the fractional epoch picks DOCS by hash while
      // the target is in TOKENS — allow doc-granularity slack
      assert(math.abs(a - target) <= bySrc(src) / 10 +
        toks.filter(_._2 == src).map(_._3).max,
        s"$src achieved $a vs target $target")
    }
  }

  test("epoch shuffle: contiguous per-shard positions, layout-independent, per-epoch fresh") {
    import graft.ext.Sampling
    val docs = Tables.documents(spark, sf)
    val out = Sampling.epochShuffle(docs, epoch = 1, nShards = 4).collect()
    assert(out.length == docs.count())
    // every shard's positions are exactly 1..n — a permutation, no gaps
    out.groupBy(_.getAs[Int]("shard")).foreach { case (shard, rows) =>
      val pos = rows.map(_.getAs[Long]("pos")).sorted
      assert(pos.toSeq == (1L to rows.length).toSeq, s"shard $shard positions: $pos")
    }
    // pure function of (doc_id, epoch): physical layout can't change it
    val re = Sampling.epochShuffle(docs.repartition(7), epoch = 1, nShards = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("shard"), r.getAs[Long]("pos")))
    assert(re.toMap == out.map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("shard"), r.getAs[Long]("pos"))).toMap,
      "shuffle order changed under repartitioning")
    // a new epoch is a fresh permutation, not a replay of the last one
    val e2 = Sampling.epochShuffle(docs, epoch = 2, nShards = 4)
      .collect().map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("shard"), r.getAs[Long]("pos"))).toMap
    val e1 = out.map(r => r.getAs[Long]("doc_id") -> (r.getAs[Int]("shard"), r.getAs[Long]("pos"))).toMap
    assert(e1 != e2, "epoch 2 replayed epoch 1's order")
  }

  test("epoch assembly: mixture copies preserved, shard offsets tile, copies scatter") {
    import graft.ext.{Packing, Sampling}
    val docs = Tables.documents(spark, sf)
    val out = Packing.assembleEpoch(docs).collect()
    // stage consistency: the assembly carries exactly the mixture's
    // instances — nothing dropped or invented by the shuffle/pack stages
    val copies = Sampling.tokenMixture(docs).groupBy("doc_id").count()
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("count")).toMap
    val gotCopies = out.groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.length.toLong).toMap
    assert(gotCopies == copies, "assembly lost or invented instances")
    // each shard's token stream tiles exactly: every instance starts
    // where the previous one ended
    out.groupBy(_.getAs[Int]("shard")).foreach { case (shard, rows) =>
      var cum = 0L
      rows.sortBy(_.getAs[Long]("start_offset")).foreach { r =>
        assert(r.getAs[Long]("start_offset") == cum,
          s"shard $shard stream has a gap at ${r.getAs[Long]("start_offset")}")
        cum += r.getAs[Long]("n_tokens")
      }
    }
    // the instance-keyed shuffle scatters an upsampled doc's epochs —
    // copies must not ride the same shard just because they share a doc
    val multi = out.groupBy(_.getAs[Long]("doc_id")).filter(_._2.length >= 4)
    assert(multi.nonEmpty, "fixture needs an upsampled doc for this test")
    assert(multi.exists(_._2.map(_.getAs[Int]("shard")).distinct.length >= 2),
      "no multi-copy doc scattered across shards")
  }

  test("snapshot diff classifies inserts, deletes, updates exactly") {
    import graft.ext.Snapshot
    val orders = Tables.orders(spark, sf)
    val diff = Snapshot.snapshotDiff(orders, Snapshot.nextOrdersSnapshot(orders))
      .collect()
    val byType = diff.groupBy(_.getAs[String]("change_type"))
      .view.mapValues(_.length.toLong).toMap
    val keys = orders.select("o_orderkey").collect().map(_.getLong(0))
    val expDel = keys.count(_ % 97 == 0).toLong
    val expIns = keys.count(_ % 101 == 0).toLong
    // updates: survivors with key % 5 == 0 (delete wins on overlap)
    val expUpd = keys.count(k => k % 97 != 0 && k % 5 == 0).toLong
    assert(byType.getOrElse("delete", 0L) == expDel)
    assert(byType.getOrElse("insert", 0L) == expIns)
    assert(byType.getOrElse("update", 0L) == expUpd)
    diff.filter(_.getAs[String]("change_type") == "update").take(20).foreach { r =>
      assert(r.getAs[Double]("new_totalprice") == r.getAs[Double]("old_totalprice") + 10.0)
    }
  }

  test("corpus drift: per-dimension counts reconcile with snapshot totals") {
    import graft.ext.Snapshot
    val docs = Tables.documents(spark, sf)
    val v2 = Snapshot.nextDocsSnapshot(docs)
    val (n1, n2) = (docs.count(), v2.count())
    val rows = Snapshot.corpusScoreDrift(docs, v2).collect()
    val dims = rows.groupBy(_.getAs[String]("dimension"))
    assert(dims.keySet == Set("quality_decile", "lang", "source"))
    // every dimension partitions its snapshot exactly — bins are MECE
    for ((d, rs) <- dims) {
      assert(rs.map(_.getAs[Long]("cnt_v1")).sum == n1, s"$d v1 total")
      assert(rs.map(_.getAs[Long]("cnt_v2")).sum == n2, s"$d v2 total")
    }
    // the appended boilerplate must move quality mass between deciles
    assert(dims("quality_decile").exists(_.getAs[Long]("drift_num") > 0),
      "mutated docs produced no quality drift")
    // drift_num is the exact cross-multiplied share difference
    rows.foreach { r =>
      val exp = math.abs(
        r.getAs[Long]("cnt_v1") * n2 - r.getAs[Long]("cnt_v2") * n1)
      assert(r.getAs[Long]("drift_num") == exp, s"drift_num mismatch: $r")
    }
  }

  test("cell-balanced sample: nonempty cells fill to the cap, ranks dense") {
    import graft.ext.Similarity
    val e = Tables.embeddings(spark, sf)
    val picked = Similarity.cellBalancedSample(e, k = 3).collect()
    val byCell = picked.groupBy(_.getAs[Long]("cell_id"))
    assert(byCell.nonEmpty)
    byCell.values.foreach { rs =>
      val size = rs.head.getAs[Long]("cell_size")
      // a cell with >= k members contributes exactly k; smaller cells
      // contribute all members — the cap never silently undersamples
      assert(rs.length.toLong == math.min(3L, size),
        s"cell picked ${rs.length} of $size under cap 3")
      assert(rs.map(_.getAs[Long]("pick_rank")).sorted.toSeq ==
        (1L to rs.length).map(identity), "pick ranks not dense from 1")
    }
    // picks must cover every cell that has members: the union of picked
    // cell sizes accounts for the whole corpus
    assert(byCell.values.map(_.head.getAs[Long]("cell_size")).sum == e.count())
  }

  test("packing efficiency: padding and truncation reconcile to bin capacity") {
    import graft.ext.{Packing, TextAnalysis}
    import org.apache.spark.sql.functions.{col, size => asize}
    val budget = 512L
    val rows = Packing.packingEfficiency(Tables.documents(spark, sf),
      col("doc_id"), asize(TextAnalysis.tokens(col("text"))), budget, 4)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // per shard: packed + padded - truncated == n_bins * budget, exactly
      val cap = r.getAs[Long]("n_bins") * budget
      assert(r.getAs[Long]("tokens_packed") + r.getAs[Long]("padded_tokens")
        - r.getAs[Long]("truncated_tokens") == cap, s"capacity identity: $r")
      assert(r.getAs[Double]("fill_ratio") > 0)
    }
  }

  test("minhash recall audit: an exact clone pair is always caught at band 10") {
    import graft.ext.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val rows = Dedup.minhashRecallAudit(docs, 0.5).collect()
    // identical texts → identical signatures → every band collides:
    // candidate generation can never miss a jaccard-1.0 pair
    val top = rows.find(_.getAs[Long]("band") == 10L)
      .getOrElse(fail(s"no band-10 row in ${rows.mkString(",")}"))
    assert(top.getAs[Long]("n_pairs") == 1L)
    assert(top.getAs[Long]("n_caught") == 1L)
    assert(top.getAs[Long]("recall_pct") == 100L)
    // the disjoint doc produced no exact pair, so no other bands appear
    assert(rows.length == 1)
  }

  test("tokenizer fertility: >= 1 per language, totals reconcile with per-doc counts") {
    import graft.ext.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val merges = TextAnalysis.bpeMerges(docs).orderBy("round")
      .collect().map(_.getAs[String]("pair")).toSeq
    val rows = TextAnalysis.tokenizerFertility(docs, merges).collect()
    assert(rows.nonEmpty)
    // BPE starts from characters and only fuses: a word is never fewer
    // than one token, so fertility is bounded below by 1
    rows.foreach(r => assert(r.getAs[Double]("fertility") >= 1.0, s"$r"))
    val perDoc = TextAnalysis.bpeEncode(docs, merges)
      .groupBy("lang").sum("n_bpe_tokens").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(
      r.getAs[Long]("n_bpe_tokens") == perDoc(r.getAs[String]("lang"))))
  }

  test("length buckets: capacity identity holds; bucketing beats pad-to-max") {
    import graft.ext.Packing
    val rows = Packing.lengthBucketAudit(Tables.documents(spark, sf)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tokens") + r.getAs[Long]("padded_tokens")
        == r.getAs[Long]("n_docs") * r.getAs[Long]("bucket_len"), s"$r")
    }
    // in aggregate the class padding must undercut the naive global-max
    // policy — that saving is the operator's reason to exist
    assert(rows.map(_.getAs[Long]("padded_tokens")).sum
      < rows.map(_.getAs[Long]("naive_padded_tokens")).sum)
  }

  test("boilerplate miner: a span shared by every doc ranks first with full reach") {
    import graft.ext.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "click here now alpha beta gamma"),
      (2L, "click here now delta epsilon zeta"),
      (3L, "click here now eta theta iota"))
      .toDF("doc_id", "text")
    val top = Dedup.boilerplateSpans(docs, spanTokens = 3, topK = 3).collect()
    assert(top.head.getAs[String]("span") == "click here now")
    assert(top.head.getAs[Long]("doc_freq") == 3L)
    assert(top.head.getAs[Double]("pct_docs") == 1.0)
  }

  test("embedding drift: re-embedded labels shift, metrics stay in range") {
    import graft.ext.Snapshot
    val emb = Tables.embeddings(spark, sf)
    val rows = Snapshot.embeddingDrift(
      emb, Snapshot.nextEmbeddingsSnapshot(emb)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("centroid_cos") <= 1.000001, s"$r")
      assert(r.getAs[Double]("l2_shift") >= 0.0, s"$r")
    }
    // the +0.25/dim re-embedding of ~1/7 of members must move SOME label
    // centroid visibly
    assert(rows.exists(_.getAs[Double]("l2_shift") > 0.05),
      "no label shows the planted encoder shift")
  }

  test("hard negatives: disjoint from exact positives, ranked by cosine") {
    import graft.ext.Similarity
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id") < 10)
    val neg = Similarity.hardNegatives(queries, e).collect()
    assert(neg.nonEmpty)
    val pos = Similarity.cosineTopK(queries, e, Similarity.HardNegPos)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))).toSet
    neg.foreach { r =>
      assert(!pos.contains(
        (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))),
        s"negative overlaps a positive: $r")
    }
    neg.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("neg_rank"))
      assert(sorted.map(_.getAs[Long]("neg_rank")).toSeq ==
        (1L to sorted.length).map(identity), "ranks not dense")
      val cosines = sorted.map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        "cosine not monotone within a query")
    }
  }

  test("ann mrr: bounded, consistent with its integer numerators; exact on a one-cell fixture") {
    import graft.ext.Similarity
    val e = Tables.embeddings(spark, sf)
    val rows = Similarity.annMrrAudit(e.filter(col("vec_id") < 10), e, 5).collect()
    assert(rows.map(_.getAs[String]("method")).sorted.toSeq == Seq("ivf", "lsh"))
    rows.foreach { r =>
      val n = r.getAs[Long]("n_queries")
      val s60 = r.getAs[Long]("sum_rr_x60")
      val mrr = r.getAs[Double]("mrr")
      assert(mrr >= 0.0 && mrr <= 1.0, s"$r")
      assert(math.abs(mrr - s60.toDouble / (n * 60)) < 1e-4, s"$r")
    }
    // 4-vector fixture: IVF seeds every vector as its own cell and the
    // probe width covers them all -> candidates are exhaustive -> the
    // true nearest neighbor is always rank 1
    import spark.implicits._
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 1), (3L, Array(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val ivf = Similarity.annMrrAudit(tiny.filter(col("vec_id") < 2), tiny, 3)
      .collect().find(_.getAs[String]("method") == "ivf").get
    assert(ivf.getAs[Double]("mrr") == 1.0, s"exhaustive probe must be exact: $ivf")
  }

  test("dedup card: each detector flags its injected class with the right keeper") {
    val rows = SparkEntry.queries("q114_dedup_card")(spark, sf).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    val exactClones = byId.keys.filter(_ >= 100000000L).filter(_ < 300000000L)
    val normClones = byId.keys.filter(_ >= 300000000L)
    assert(exactClones.nonEmpty && normClones.nonEmpty, "fixture classes missing")
    exactClones.foreach { id =>
      val r = byId(id)
      assert(r.getAs[Boolean]("in_exact_group"), s"exact clone unflagged: $r")
      assert(r.getAs[Long]("exact_keeper") == id - 100000000L, s"wrong keeper: $r")
      assert(r.getAs[Boolean]("drop_candidate"))
    }
    normClones.foreach { id =>
      val r = byId(id)
      // reformatting breaks the raw digest but not the canonical one
      assert(!r.getAs[Boolean]("in_exact_group"), s"norm clone in raw group: $r")
      assert(r.getAs[Boolean]("in_norm_group"), s"norm clone unflagged: $r")
      assert(r.getAs[Long]("norm_keeper") == id - 300000000L, s"wrong keeper: $r")
      assert(r.getAs[Boolean]("drop_candidate"))
    }
    // originals that head their groups and sit outside near-dup clusters
    // must NOT be drop candidates — keep-first keeps them
    assert(rows.exists(r => !r.getAs[Boolean]("drop_candidate")),
      "card dropped the whole corpus")
  }

  test("retention cohorts: offset 0 equals cohort size; retention never exceeds it") {
    val ev = Tables.events(spark, sf)
    val rows = graft.queries.Advanced.retentionCohorts(ev).collect()
    assert(rows.nonEmpty)
    val sizes = ev
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .groupBy("user_id").agg(min(col("d")).as("cd"))
      .groupBy("cd").count().collect()
      .map(r => r.getDate(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getAs[java.sql.Date]("cohort_day")).foreach {
      case (cd, rs) =>
        val base = rs.find(_.getAs[Int]("day_offset") == 0)
          .getOrElse(fail(s"cohort $cd missing its own day"))
          .getAs[Long]("n_active_users")
        // every member is active on their first-seen day by definition
        assert(base == sizes(cd), s"cohort $cd base mismatch")
        rs.foreach(r =>
          assert(r.getAs[Long]("n_active_users") <= base, s"$r"))
    }
  }

  test("source quality quantiles: monotone within each source, counts total") {
    import graft.ext.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val rows = TextAnalysis.sourceQualityQuantiles(docs).collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    rows.foreach { r =>
      val seq = Seq("q_min", "p25", "p50", "p75", "p95", "q_max")
        .map(r.getAs[Double])
      assert(seq.zip(seq.tail).forall { case (a, b) => a <= b },
        s"quantiles not monotone: $r")
    }
  }

  test("session paths: gap splits produce the exact expected openings") {
    import graft.queries.Advanced
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val ev = Seq(
      // user 1: one session of four events — path truncates to first 3
      (1L, at(0), 1L, "view"), (2L, at(5), 1L, "click"),
      (3L, at(10), 1L, "purchase"), (4L, at(15), 1L, "view"),
      // user 2: 2-event session, then a 2-hour gap, then a 1-event session
      (5L, at(0), 2L, "view"), (6L, at(3), 2L, "click"),
      (7L, at(150), 2L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val paths = Advanced.sessionPaths(ev, pathLen = 3, topK = 10)
      .collect().map(r => r.getAs[String]("path") -> r.getAs[Long]("n_sessions"))
      .toMap
    assert(paths == Map(
      "view>click>purchase" -> 1L, "view>click" -> 1L, "purchase" -> 1L))
  }

  test("release ledger: stages shrink monotonically and cover the full chain") {
    import graft.ext.CorpusBuild
    val rows = CorpusBuild.releaseLedger(Tables.documents(spark, sf))
      .orderBy("stage").collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq == Seq(
      "0_raw", "1_funnel", "2_exact_dedup", "3_decontaminated",
      "4_near_dedup", "5_train_split"))
    val docs = rows.map(_.getAs[Long]("n_docs"))
    val toks = rows.map(_.getAs[Long]("n_tokens"))
    assert(docs.zip(docs.tail).forall { case (a, b) => b <= a },
      s"doc counts not monotone: ${docs.toSeq}")
    assert(toks.zip(toks.tail).forall { case (a, b) => b <= a },
      s"token counts not monotone: ${toks.toSeq}")
    // the pipeline must actually do work at gate scale: the funnel and
    // the split each drop something
    assert(docs.last < docs.head, "ledger shows no curation at all")
  }

  test("release ledger: one-pass flag aggregate == per-stage aggregation") {
    import graft.ext.CorpusBuild
    import org.apache.spark.sql.functions._
    val documents = Tables.documents(spark, sf)
    val fast = CorpusBuild.releaseLedger(documents).orderBy("stage")
      .collect().map(r => (r.getAs[String]("stage"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toSeq
    // the r12 CUMULATIVE chain, inlined independently of flaggedStages
    // (releaseStages is itself flag-derived now, so anchoring against it
    // would only pin the conditional aggregate against flag filters of
    // the same frame): each stage is a filter/window/anti-join of the
    // previous stage frame, exactly the pre-refactor spelling.
    import graft.ext.{Dedup, Sampling, TextAnalysis}
    import org.apache.spark.sql.expressions.Window
    val (lenScore, ttr, stopRatio) = TextAnalysis.qualityParts(col("text"))
    val s0 = documents.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
    val s1 = s0
      .withColumn("q", TextAnalysis.qualityScore(lenScore, ttr, stopRatio))
      .filter(col("n_chars") >= TextAnalysis.FunnelMinChars
        && col("lang") === TextAnalysis.FunnelLang
        && col("q") >= TextAnalysis.FunnelMinQuality)
    val s2 = s1.withColumn("__fp", md5(col("text")))
      .withColumn("__keep",
        min(col("doc_id")).over(Window.partitionBy("__fp")))
      .filter(col("doc_id") === col("__keep")).drop("__fp", "__keep")
    val contaminated = Dedup.evalContamination(documents, evalMod = 50, n = 4)
      .filter(col("contaminated")).select("doc_id")
    val s3 = s2.join(contaminated, Seq("doc_id"), "left_anti")
    val losers = Dedup.minhashCandidates(
        s3.select("doc_id", "text"), CorpusBuild.NearDupThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val s4 = s3.join(losers, Seq("doc_id"), "left_anti")
    val s5 = s4.filter(Sampling.assignSplit(col("doc_id")) === "train")
    val chain = Seq("0_raw" -> s0, "1_funnel" -> s1, "2_exact_dedup" -> s2,
      "3_decontaminated" -> s3, "4_near_dedup" -> s4, "5_train_split" -> s5)
    val slow = chain.map { case (name, df) =>
      val row = df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(size(TextAnalysis.tokens(col("text")))
          .cast("long")), lit(0L)).as("n_tokens")).collect().head
      (name, row.getAs[Long]("n_docs"), row.getAs[Long]("n_tokens"))
    }
    assert(fast == slow, s"flag ledger diverged:\n$fast\nvs\n$slow")
  }

  test("release publish: atomic artifact round-trips, recovers, republishes") {
    import graft.ext.CorpusBuild
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("release").toString +
      "/corpus_v1"
    CorpusBuild.publishRelease(spark, docs, dir)
    val (manifest, ledger) = CorpusBuild.readRelease(spark, dir)
    // the artifact's ledger equals the live query, row for row
    val live = CorpusBuild.releaseLedger(docs)
    assert(ledger.exceptAll(live).count() == 0
      && live.exceptAll(ledger).count() == 0, "published ledger drifted")
    // manifest coheres with the ledger: train rows = 5_train_split docs
    val trainDocs = ledger.filter(col("stage") === "5_train_split")
      .head().getAs[Long]("n_docs")
    assert(manifest.filter(col("split") === "train").count() == trainDocs)
    // materialize before the republish swaps the files out from under
    // the lazily-bound frame
    val v1Count = manifest.count()
    // the driver-written card parses as the ledger it claims to be
    val card = scala.io.Source.fromFile(dir + "/release.json").mkString
    assert(card.contains("\"ledger\":[") && card.contains("0_raw")
      && card.contains("\"pack_budget\":2048"))
    // republish swaps atomically: no staging/backup remnants, new content
    CorpusBuild.publishRelease(spark, docs.filter(col("doc_id") < 300), dir)
    val (m2, _) = CorpusBuild.readRelease(spark, dir)
    // materialize: after the crash-window rename below, m2's lazily
    // bound scan would re-list a path that no longer exists
    val v2Count = m2.count()
    assert(v2Count < v1Count, "republish kept old manifest")
    assert(!new java.io.File(dir + "__staging").exists, "staging left behind")
    assert(!new java.io.File(dir + "__backup").exists, "backup left behind")
    // crash window: target moved aside but new dir not yet published —
    // the reader serves the backup WITHOUT renaming (repair is
    // writer-only; see Store.repairPublished)
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + "__backup")))
    val (m3, _) = CorpusBuild.readRelease(spark, dir)
    assert(m3.count() == v2Count, "backup read lost the release")
    assert(!new java.io.File(dir).exists,
      "a CONSUMER read must not repair the swap")
    // the next publish (writer op) repairs the crashed swap first,
    // then swaps in the new content
    CorpusBuild.publishRelease(spark, docs.filter(col("doc_id") < 100), dir)
    assert(!new java.io.File(dir + "__backup").exists,
      "the writer must consume the crashed backup")
    val (m4, _) = CorpusBuild.readRelease(spark, dir)
    assert(m4.count() < v2Count, "post-repair publish kept old manifest")
  }

  test("cms heavy hitters: estimate never undercounts; top hitter is the true max") {
    import graft.ext.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val rows = TextAnalysis.cmsHeavyHitters(docs).collect()
    assert(rows.length == TextAnalysis.CmsTopK)
    // the count-min guarantee: est >= true, always
    rows.foreach(r => assert(
      r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_count"), s"$r"))
    // at gate scale the dominant token towers over collisions — the
    // sketch's top hitter must be the exact top token
    val exactTop = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("t").count().orderBy(col("count").desc, col("t"))
      .head().getString(0)
    assert(rows.head.getAs[String]("token") == exactTop,
      s"sketch top ${rows.head} != exact top $exactTop")
  }

  test("power iteration: planted dominant axis recovered, max-abs normalized") {
    import graft.ext.Similarity
    import spark.implicits._
    // 40 vectors hugging axis 0 with small deterministic axis-1 noise
    val planted = (1 to 40).map { i =>
      (i.toLong, Array(10.0f + (i % 3), 0.1f * (i % 5), 0.01f * (i % 7)), 0)
    }.toDF("vec_id", "embedding", "label")
    val comp = Similarity.topComponent(planted)
      .orderBy("dim_idx").collect().map(_.getAs[Double]("component"))
    assert(math.abs(comp(0)) == 1.0, s"dominant axis not max-abs 1: ${comp.toSeq}")
    assert(math.abs(comp(1)) < 0.2 && math.abs(comp(2)) < 0.2,
      s"noise axes not suppressed: ${comp.toSeq}")
    // the real corpus form stays bounded and hits max-abs exactly once
    val real = Similarity.topComponent(Tables.embeddings(spark, sf))
      .collect().map(_.getAs[Double]("component"))
    assert(real.forall(c => math.abs(c) <= 1.0))
    assert(real.map(math.abs).max == 1.0)
  }

  test("quality keeper: the best-scoring member survives, not the min id") {
    import graft.ext.Dedup
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      // min-id member: the SHORT copy (lower length score)
      (10L, base),
      // higher-quality near-dup: same shingles plus distinct extra tokens
      (20L, base + " " + (1 to 20).map(i => s"extra$i").mkString(" ")),
      // unrelated doc: must not join the cluster
      (30L, (1 to 25).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = Dedup.qualityKeeperClusters(docs, 0.3).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(10L, 20L),
      "cluster scope wrong")
    rows.foreach { r =>
      assert(r.getAs[Long]("cluster_rep") == 10L, "rep label is the min id")
      assert(r.getAs[Long]("keeper_doc_id") == 20L,
        "keeper must be the higher-quality member")
      assert(r.getAs[Boolean]("kept") == (r.getAs[Long]("doc_id") == 20L))
    }
  }

  test("dup-span profile: a lifted passage reports as ONE maximal span of its true length") {
    import spark.implicits._
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")  // 10 shared tokens
    val tail2 = (1 to 8).map(i => s"q$i").mkString(" ")     // second shared run
    val docs = Seq(
      // doc 1: passage at the start, unique middle, second shared run at the end
      (1L, s"$passage u1 u2 u3 u4 u5 $tail2"),
      // doc 2: same passage and run, different surroundings
      (2L, s"v1 v2 $passage v3 v4 $tail2 v5"),
      (3L, (1 to 20).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val rows = Dedup.dupSpanProfile(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // both carriers see TWO maximal spans: the 10-token passage + 8-token run
    Seq(1L, 2L).foreach { id =>
      assert(rows(id).getAs[Long]("n_dup_spans") == 2, s"doc $id: ${rows(id)}")
      assert(rows(id).getAs[Long]("max_span_tokens") == 10, s"doc $id")
      assert(rows(id).getAs[Long]("covered_tokens") == 18, s"doc $id")
    }
    assert(rows(3L).getAs[Long]("n_dup_spans") == 0)
    assert(rows(3L).getAs[Long]("cover_micro") == 0L)
  }

  test("key-skew histogram: a planted hot key lands alone in the top bucket") {
    import graft.queries.Profiling
    import spark.implicits._
    // 64 uniform keys × 4 rows, plus one hot key with 1024 rows
    val uniform = (1 to 64).flatMap(k => Seq.fill(4)(k.toLong))
    val hot = Seq.fill(1024)(999L)
    val df = (uniform ++ hot).toDF("user_id")
    val hist = Profiling.keySkewHistogram(df, "user_id").collect()
    val byBucket = hist.map(r => r.getAs[Int]("log2_bucket") -> r).toMap
    // 4 rows/key → bucket 2; 1024 rows → bucket 10
    assert(byBucket.keySet == Set(2, 10), s"buckets: ${byBucket.keySet}")
    assert(byBucket(2).getAs[Long]("n_keys") == 64)
    assert(byBucket(10).getAs[Long]("n_keys") == 1)
    assert(byBucket(10).getAs[Long]("max_key_rows") == 1024)
    // hot key's share: 1024 / 1280 = 80%
    assert(byBucket(10).getAs[Long]("rows_share_micro") == 800000L)
  }

  test("exact-k sample: fixed size, deterministic, partitioning-independent") {
    val docs = Tables.documents(spark, sf)
    val s1 = Sampling.exactKSample(docs, 50).collect()
    assert(s1.length == 50)
    val s2 = Sampling.exactKSample(docs.repartition(7), 50).collect()
    assert(s1.map(_.getAs[Long]("doc_id")).toSeq ==
      s2.map(_.getAs[Long]("doc_id")).toSeq,
      "sample must not depend on physical partitioning")
    // draws are a total order: strictly increasing along the sample
    val draws = s1.map(_.getAs[Long]("draw"))
    assert(draws.sameElements(draws.sorted))
  }

  test("collocations: a glued pair outranks independent pairs; support floor holds") {
    import graft.ext.LmScore
    import spark.implicits._
    // `rare pair` always adjacent (20×); filler tokens are shuffled
    // independently, so no filler bigram repeats anywhere near 20×
    val glued = (1 to 20).map(i => (i.toLong, s"rare pair w$i x$i y$i z$i"))
    val docs = glued.toDF("doc_id", "text")
    val rows = LmScore.collocations(docs, minSupport = 8, k = 5).collect()
    assert(rows.nonEmpty)
    val top = rows.head
    assert(top.getAs[String]("a") == "rare" && top.getAs[String]("b") == "pair",
      s"glued pair must rank first, got $top")
    assert(top.getAs[Long]("c_ab") == 20)
    // support floor: every surviving pair repeats at least minSupport times
    rows.foreach(r => assert(r.getAs[Long]("c_ab") >= 8, s"$r"))
  }

  test("cms index: append-merge ≡ full rebuild; crash window recovers from backup") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val first = docs.filter(col("doc_id") % 2 === 0)
    val second = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("cms_idx").toString
    TextAnalysis.buildCmsIndex(first, dir)
    TextAnalysis.appendToCmsIndex(spark, dir, second)
    val merged = TextAnalysis.readCmsIndex(spark, dir)
    val full = TextAnalysis.cmsSketch(docs)
    assert(merged.exceptAll(full).count() == 0 &&
      full.exceptAll(merged).count() == 0,
      "incremental sketch must equal the one-shot build")
    // a rebuild whose input raises at run time leaves the previous sketch.
    // Without AQE the failing scan stage runs inside the write job, after
    // an Overwrite has deleted its target (AQE runs map stages first)
    val noAqe = spark.newSession()
    noAqe.conf.set("spark.sql.adaptive.enabled", "false")
    intercept[Exception](TextAnalysis.buildCmsIndex(Tables.documents(noAqe, sf)
      .withColumn("text", when(col("doc_id") === 7, raise_error(lit("boom")))
        .otherwise(col("text"))), dir))
    val kept = TextAnalysis.readCmsIndex(spark, dir)
    assert(kept.exceptAll(full).count() == 0 && full.exceptAll(kept).count() == 0,
      "a failed rebuild must leave the previous sketch")
    // crash window: sketch moved aside, publish not done — reader recovers
    val p = new java.io.File(dir + "/sketch")
    assert(p.renameTo(new java.io.File(dir + "/sketch__backup")))
    val recovered = TextAnalysis.readCmsIndex(spark, dir)
    assert(recovered.exceptAll(full).count() == 0, "backup recovery lost state")
  }

  test("source novelty card: mirror source scores zero novelty; repetition kills diversity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z", "A"),          // 3 distinct tokens, 2 unique to A (x, y)
      (2L, "w w w w", "B"),        // pure repetition → diversity 0
      (3L, "z", "C")               // mirror of A's vocab slice → novelty 0
    ).toDF("doc_id", "text", "source")
    val rows = TextAnalysis.sourceNoveltyCard(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(rows("A").getAs[Long]("distinct_tokens") == 3)
    assert(rows("A").getAs[Long]("unique_tokens") == 2) // z shared with C
    assert(rows("C").getAs[Long]("unique_tokens") == 0)
    assert(rows("C").getAs[Double]("novelty_share") == 0.0)
    assert(rows("B").getAs[Double]("simpson_diversity") == 0.0)
    // A: three singleton counts → 1 - 3/9
    assert(math.abs(rows("A").getAs[Double]("simpson_diversity") - (1.0 - 3.0 / 9)) < 1e-6)
  }

  test("jl distortion: unbiased near 1 on average; exact on axis-aligned pairs") {
    import spark.implicits._
    // real panel: the mean normalized ratio concentrates near 1 (JL
    // unbiasedness) even though single pairs vary at 8 projected dims
    val rows = Similarity.jlDistortion(Tables.embeddings(spark, sf)).collect()
    assert(rows.length == JlPanelPairs(rows))
    val ratios = rows.map(_.getAs[Double]("jl_ratio"))
    assert(ratios.forall(_ > 0))
    val mean = ratios.sum / ratios.length
    assert(mean > 0.6 && mean < 1.5, s"JL mean ratio off: $mean")
    // scaling both vectors scales d2s together: ratio is scale-invariant
    val a = Array.tabulate(64)(i => (if (i % 3 == 0) 1.0f else -0.5f))
    val b = Array.tabulate(64)(i => (if (i % 5 == 0) 2.0f else 0.25f))
    val small = Seq((0L, a, 0), (1L, b, 0)).toDF("vec_id", "embedding", "label")
    val big = Seq((0L, a.map(_ * 4), 0), (1L, b.map(_ * 4), 0))
      .toDF("vec_id", "embedding", "label")
    val r1 = Similarity.jlDistortion(small).head().getAs[Double]("jl_ratio")
    val r2 = Similarity.jlDistortion(big).head().getAs[Double]("jl_ratio")
    assert(math.abs(r1 - r2) < 2e-6, s"not scale-invariant: $r1 vs $r2")
  }

  private def JlPanelPairs(rows: Array[Row]): Int = {
    val n = rows.flatMap(r => Seq(r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .distinct.length
    n * (n - 1) / 2
  }

  test("bm25: exact tf under adjacent repeats; rare-term rank dominance") {
    import spark.implicits._
    val filler = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      // adjacent repeats — the doubled-space pad must count both
      (1L, s"dup dup $filler"),
      (2L, s"dup $filler"),
      // common term only: every doc below shares it, so idf is tiny
      (3L, s"vector $filler"),
      (4L, s"vector vector vector $filler"),
      (5L, filler + " vector")).toDF("doc_id", "text")
    val rows = TextAnalysis.bm25Search(docs).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Int]("tf_dup") == 2, "adjacent tf undercounted")
    assert(byId(2L).getAs[Int]("tf_dup") == 1)
    // rare `dup` (df=2 of 5) must outrank any common-`vector` doc (df=3)
    val ids = rows.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids.take(2).toSet == Set(1L, 2L),
      s"rare-term docs must lead the ranking, got $ids")
    // higher tf of the same term at equal dl ranks first
    assert(ids.indexOf(1L) < ids.indexOf(2L))
    rows.foreach(r => assert(r.getAs[Double]("bm25") > 0))
  }

  test("dsir: docs made of target-domain tokens score above off-domain docs") {
    import graft.ext.Selection
    import spark.implicits._
    // target source src0 speaks `alpha`, the raw pool speaks `beta`
    val docs = (
      (1 to 10).map(i => (i.toLong, "alpha " * 19 + "alpha", "src0")) ++
        (11 to 30).map(i => (i.toLong, "beta " * 19 + "beta", "srcX")) ++
        Seq((31L, "alpha " * 9 + "alpha " * 10 + "alpha", "srcX"),
          (32L, "beta " * 19 + "beta", "srcY")))
      .map { case (id, t, s) => (id, t.trim, s) }
      .toDF("doc_id", "text", "source")
    val w = Selection.dsirWeights(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dsir_weight")).toMap
    // pure-alpha docs (target-like) must outweigh pure-beta docs
    assert(w(1L) > w(11L) && w(31L) > w(32L),
      s"target-like docs must score higher: $w")
    // identical token bags ⇒ identical weights, regardless of source
    assert(w(1L) == w(31L) && w(11L) == w(32L),
      "weight must depend on content only, not the doc's own source")
  }
}
