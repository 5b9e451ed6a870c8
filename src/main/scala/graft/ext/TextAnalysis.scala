package graft.ext

import graft.{QuerySpec, Tables}
import graft.functions.Functions.{round4, round4Sql, round6, round6Sql}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token statistics,
  * marker-based language ID, quality scoring, token counting, and document
  * fingerprinting (north-star training-data ops, SURVEY.md §7.2 phase 5).
  *
  * Everything is built from codegen'd string expressions (split/replace/
  * length/md5) — no UDFs — so each query is one scan-local projection or
  * one hash-aggregate at any scale. Occurrence counting uses the
  * replace-delta trick ((len(x) - len(replace(x, m, ''))) / len(m)), which
  * has identical non-overlapping semantics in Spark and DuckDB.
  */
object TextAnalysis {

  /** Whitespace tokens. The corpus is single-space separated; a literal
    * ' ' split keeps Spark/DuckDB semantics identical. */
  def tokens(text: Column): Column = split(text, " ")

  /** Count non-overlapping occurrences of `marker` in `padded`. */
  def occurrences(padded: Column, marker: String): Column =
    (length(padded) - length(replace(padded, lit(marker), lit("")))) / marker.length

  private def padded(text: Column): Column =
    concat(lit(" "), text, lit(" "))

  /** Marker-word score for one language: total occurrences of its
    * stopword markers as standalone tokens. */
  def markerScore(text: Column, markers: Seq[String]): Column =
    markers.map(m => occurrences(padded(text), s" $m ")).reduce(_ + _).cast("int")

  /** Stopword marker lists for the language-ID heuristic (public-knowledge
    * high-frequency function words). */
  final val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "los"),
    "de" -> Seq("der", "und", "die", "das"),
    "fr" -> Seq("le", "les", "et", "des"))

  /** Argmax fold over (language, score) columns: first-listed language
    * wins ties; all-zero → 'unknown'. ONE definition shared by [[langId]]
    * and q22's registered query so the tie-break rule can't drift between
    * the operator and the oracle-checked form. */
  def predictLang(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, "unknown")) {
      case (acc, (l, s)) => acc.when(s === best, l)
    }.otherwise("unknown")
  }

  def langId(text: Column): Column =
    predictLang(LangMarkers.map { case (l, ms) => l -> markerScore(text, ms) })

  /** Quality-score components (length saturation, type-token ratio,
    * stopword density) and their weighted blend — ONE definition shared by
    * q23 and the q63 filter funnel so the scoring rule can't drift between
    * the profiling view and the filtering decision. */
  def qualityParts(text: Column): (Column, Column, Column) = {
    val toks = tokens(text)
    (least(lit(1.0), length(text).cast("double") / 400),
      size(array_distinct(toks)).cast("double") / size(toks),
      (occurrences(padded(text), " the ") + occurrences(padded(text), " a "))
        .cast("double") / size(toks))
  }

  def qualityScore(lenScore: Column, ttr: Column, stopRatio: Column): Column =
    lenScore * 0.4 + ttr * 0.4 +
      (lit(1.0) - least(lit(1.0), stopRatio * 5)) * 0.2

  /** The corpus filter-funnel rule constants — ONE home for the
    * thresholds shared by q63's accounting and q75's build manifest (a
    * tuned threshold landing in only one of them would silently let the
    * manifest diverge from the funnel it claims to implement). */
  final val FunnelMinChars = 100
  final val FunnelLang = "en"
  final val FunnelMinQuality = 0.4

  /** SQL twins of [[qualityParts]]/[[qualityScore]] — one spelling of the
    * component arithmetic shared by the q23 and q63 oracles, mirroring the
    * Scala sharing (two hand-copies of the blend already diverged once in
    * review). `extraCols` rides along for the funnel's filter columns;
    * pre-stripped: assemble by concatenation, never re-stripMargin. */
  def qualityPartsSql(extraCols: String, rel: String = "documents"): String =
    s"""SELECT doc_id$extraCols,
       |    least(1.0, CAST(length(text) AS DOUBLE) / 400) AS len_score,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS ttr,
       |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5
       |       + (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' a ', ''))) / 3 AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stop_ratio
       |  FROM $rel""".stripMargin

  final val QualityBlendSql: String =
    "0.4 * len_score + 0.4 * ttr + 0.2 * (1 - least(1.0, stop_ratio * 5))"

  /** Quality tier from the blended score — ONE home for the 0.6/0.4
    * cut points shared by q23's profiling view and q88's tier-rated
    * sampler (a threshold tuned in one but not the other would sample at
    * rates that disagree with the published quality bands). */
  final val TierHighMin = 0.6
  final val TierMediumMin = 0.4

  def qualityTier(q: Column): Column =
    when(q >= TierHighMin, "high").when(q >= TierMediumMin, "medium")
      .otherwise("low")

  def qualityTierSql(qExpr: String): String =
    s"CASE WHEN $qExpr >= $TierHighMin THEN 'high'\n" +
      s"       WHEN $qExpr >= $TierMediumMin THEN 'medium'\n" +
      "       ELSE 'low' END"

  val q21TextStats: QuerySpec = QuerySpec(
    "q21_text_stats",
    s"""SELECT doc_id, lang, source,
      |  length(text) AS n_chars,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens,
      |  ${round4Sql("CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)" +
        " / len(string_split(text, ' '))")} AS avg_token_len,
      |  ${round4Sql("CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)" +
        " / len(string_split(text, ' '))")} AS type_token_ratio
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // floor-based round4 on int ratios (tie-divergence class — see
    // Functions.round6 doc)
    val d = Tables.documents(s, dir)
    val toks = tokens(col("text"))
    d.select(
      col("doc_id"), col("lang"), col("source"),
      length(col("text")).as("n_chars"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      round4((length(col("text")) - (size(toks) - 1)).cast("double") / size(toks))
        .as("avg_token_len"),
      round4(size(array_distinct(toks)).cast("double") / size(toks))
        .as("type_token_ratio"))
      .orderBy("doc_id")
  }

  val q22LangId: QuerySpec = QuerySpec(
    "q22_lang_id", {
      def sql(markers: Seq[String]): String = markers.map { m =>
        s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $m ', ''))) / ${m.length + 2} AS INT)"
      }.mkString("(", " + ", ")")
      val scores = LangMarkers.map { case (l, ms) => l -> sql(ms) }
      val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
      val cases = scores.map { case (l, e) => s"WHEN $e = best THEN '$l'" }
      s"""SELECT doc_id, lang,
         |  ${scores.map { case (l, e) => s"$e AS score_$l" }.mkString(",\n  ")},
         |  CASE WHEN best <= 0 THEN 'unknown' ${cases.mkString(" ")}
         |    ELSE 'unknown' END AS predicted_lang
         |FROM (SELECT *, $best AS best FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    val d = Tables.documents(s, dir)
    val scoreCols = LangMarkers.map { case (l, ms) =>
      markerScore(col("text"), ms).as(s"score_$l")
    }
    d.select(Seq(col("doc_id"), col("lang")) ++ scoreCols: _*)
      .withColumn("predicted_lang",
        predictLang(LangMarkers.map { case (l, _) => l -> col(s"score_$l") }))
      .orderBy("doc_id")
  }

  /** Heuristic document quality score: length saturation, lexical
    * diversity, and stopword density (generalizes the reference's
    * weighted-component scoring pattern, `src/validation.py:64-69`, to
    * text corpora). */
  val q23DocQuality: QuerySpec = QuerySpec(
    "q23_doc_quality",
    "SELECT doc_id,\n" +
      s"  ${round4Sql("len_score")} AS len_score,\n" +
      s"  ${round4Sql("ttr")} AS diversity_score,\n" +
      s"  ${round4Sql("stop_ratio")} AS stopword_ratio,\n" +
      s"  ${round4Sql(QualityBlendSql)} AS quality_score,\n" +
      s"  ${qualityTierSql(QualityBlendSql)} AS quality_band\n" +
      "FROM (\n  " + qualityPartsSql("") + ")\n" +
      "ORDER BY doc_id") { (s, dir) =>
    val d = Tables.documents(s, dir)
    val (lenScore, ttr, stopRatio) = qualityParts(col("text"))
    val base = d.select(
      col("doc_id"),
      lenScore.as("len_score"), ttr.as("ttr"), stopRatio.as("stop_ratio"))
    val q = qualityScore(col("len_score"), col("ttr"), col("stop_ratio"))
    base.select(
      col("doc_id"),
      round4(col("len_score")).as("len_score"),
      round4(col("ttr")).as("diversity_score"),
      round4(col("stop_ratio")).as("stopword_ratio"),
      round4(q).as("quality_score"),
      qualityTier(q).as("quality_band"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens plus a BPE-style subword estimate
    * (≈ chars/4, the public ~4-chars-per-token rule of thumb). */
  val q24TokenCount: QuerySpec = QuerySpec(
    "q24_token_count",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT) AS n_bpe_est,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      ceil(length(col("text")).cast("double") / 4).cast("long").as("n_bpe_est"),
      length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Content fingerprint: md5 over whitespace-normalized text — the
    * batch-friendly stand-in for a rolling hash; identical cross-engine. */
  val q25Fingerprint: QuerySpec = QuerySpec(
    "q25_fingerprint",
    """SELECT doc_id,
      |  md5(lower(trim(text))) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      md5(lower(trim(col("text")))).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Per-language vocabulary: top-5 tokens by frequency — the corpus
    * profiling pass a tokenizer/vocab build starts from. One explode →
    * one (lang, token) count with map-side partials → per-lang
    * WindowGroupLimit top-k; no collect, no per-language scan. */
  val q56VocabTopk: QuerySpec = QuerySpec(
    "q56_vocab_topk",
    """WITH tok AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |counts AS (
      |  SELECT lang, token, count(*) AS n FROM tok
      |  WHERE token <> '' GROUP BY lang, token)
      |SELECT lang, rnk, token, n FROM (
      |  SELECT *, row_number() OVER (PARTITION BY lang
      |    ORDER BY n DESC, token) AS rnk
      |  FROM counts)
      |WHERE rnk <= 5
      |ORDER BY lang, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("lang", "token").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("token"))
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("lang", "rnk", "token", "n")
      .orderBy("lang", "rnk")
  }

  /** q63: the corpus FILTER FUNNEL — the single decision query a training
    * pipeline runs to materialize its kept set, with per-rule drop
    * accounting (the numbers a data card reports). Rules apply in the
    * standard order: minimum length → language → quality score → exact
    * dedup (keeper = smallest doc_id per content fingerprint AMONG the
    * docs that survived the earlier rules — deduping before filtering
    * would let a low-quality copy shadow a high-quality one).
    *
    * ONE pass: every rule is a boolean flag in the same projection, the
    * dedup keeper is a min-over-fingerprint window of the surviving ids,
    * and the funnel rows explode out of a single aggregate — no
    * per-stage scans, no self-joins, at any corpus size. */
  val q63FilterFunnel: QuerySpec = QuerySpec(
    "q63_filter_funnel",
    "WITH p AS (\n  " +
      qualityPartsSql(", lang, n_chars, md5(text) AS fp") + "),\n" +
      s"f AS (\n  SELECT doc_id, lang, n_chars, fp, $QualityBlendSql AS q FROM p),\n" +
      s"""flags AS (
      |  SELECT doc_id, fp,
      |    (n_chars >= $FunnelMinChars) AS f1,
      |    (n_chars >= $FunnelMinChars AND lang = '$FunnelLang') AS f2,
      |    (n_chars >= $FunnelMinChars AND lang = '$FunnelLang' AND q >= $FunnelMinQuality) AS f3
      |  FROM f),
      |keep AS (
      |  SELECT *,
      |    f3 AND doc_id = min(CASE WHEN f3 THEN doc_id END) OVER (PARTITION BY fp) AS f4
      |  FROM flags),
      |t AS (
      |  SELECT count(*) AS n0,
      |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
      |    CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
      |  FROM keep)
      |SELECT * FROM (
      |  SELECT 1 AS stage_idx, 'min_length' AS stage, n0 AS n_in, n1 AS n_kept, n0 - n1 AS n_dropped FROM t
      |  UNION ALL SELECT 2, 'lang_en', n1, n2, n1 - n2 FROM t
      |  UNION ALL SELECT 3, 'quality', n2, n3, n2 - n3 FROM t
      |  UNION ALL SELECT 4, 'exact_dedup', n3, n4, n3 - n4 FROM t)
      |ORDER BY stage_idx""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
    val (lenScore, ttr, stopRatio) = qualityParts(col("text"))
    val q = qualityScore(lenScore, ttr, stopRatio)
    val flagged = d.select(
      col("doc_id"), md5(col("text")).as("fp"),
      (col("n_chars") >= FunnelMinChars).as("f1"),
      (col("n_chars") >= FunnelMinChars && col("lang") === FunnelLang).as("f2"),
      (col("n_chars") >= FunnelMinChars && col("lang") === FunnelLang
        && q >= FunnelMinQuality).as("f3"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val kept = flagged.withColumn("f4",
      col("f3") && col("doc_id") === min(when(col("f3"), col("doc_id"))).over(w))
    val t = kept.agg(
      count(lit(1)).as("n0"),
      sum(when(col("f1"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("f2"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("f3"), 1L).otherwise(0L)).as("n3"),
      sum(when(col("f4"), 1L).otherwise(0L)).as("n4"))
    val stages = Seq(
      (1, "min_length", "n0", "n1"), (2, "lang_en", "n1", "n2"),
      (3, "quality", "n2", "n3"), (4, "exact_dedup", "n3", "n4"))
    t.select(explode(array(stages.map { case (i, name, in, out) =>
        struct(lit(i).as("stage_idx"), lit(name).as("stage"),
          col(in).as("n_in"), col(out).as("n_kept"),
          (col(in) - col(out)).as("n_dropped"))
      }: _*)).as("s")).select("s.*")
      .orderBy("stage_idx")
  }

  /** q67: repetition-based quality filters (the Gopher-rule family:
    * excessive repetition is the strongest single low-quality signal in
    * web corpora). Per doc: top-token fraction, duplicate-token fraction,
    * top-bigram fraction, and the keep decision.
    *
    * Scale shape: every metric is a scan-local array expression over the
    * token vector — ZERO shuffles at any corpus size (the explode +
    * two-level-aggregate alternative costs two shuffles of the full token
    * stream). Per-row cost is O(distinct · tokens), fine for web-document
    * lengths; a corpus of book-length texts would flip to the explode
    * form. Thresholds sit at this corpus's upper deciles so both classes
    * are populated; real pipelines tune them per source. */
  val q67RepetitionFilter: QuerySpec = QuerySpec(
    "q67_repetition_filter",
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |b AS (
      |  SELECT doc_id, w,
      |    list_transform(generate_series(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1]) AS bg
      |  FROM d),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(w) AS INT) AS n,
      |    list_max(list_transform(list_distinct(w),
      |      t -> len(list_filter(w, x -> x = t)))) AS toptok,
      |    CAST(len(list_distinct(w)) AS INT) AS ndist,
      |    list_max(list_transform(list_distinct(bg),
      |      t -> len(list_filter(bg, x -> x = t)))) AS topbg
      |  FROM b)
      |SELECT doc_id,
      |  n AS n_tokens,
      |  ${round4Sql("CAST(toptok AS DOUBLE) / n")} AS top_token_frac,
      |  ${round4Sql("CAST(n - ndist AS DOUBLE) / n")} AS dup_token_frac,
      |  ${round4Sql("CAST(topbg AS DOUBLE) / (n - 1)")} AS top_bigram_frac,
      |  (CAST(toptok AS DOUBLE) / n <= 0.12
      |    AND CAST(n - ndist AS DOUBLE) / n <= 0.6
      |    AND CAST(topbg AS DOUBLE) / (n - 1) <= 0.06) AS keep
      |FROM m
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // sort the raw scan, not the metric projection: the repetition HOFs
    // are the query's whole cost, and range-boundary sampling re-executes
    // everything below the sort (the q66 lesson — measured 2× here too)
    val base = Tables.documents(s, dir).orderBy("doc_id")
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .withColumn("bg", expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
    val n = size(col("w"))
    // max multiplicity / distinct count via ONE sorted run-length pass —
    // O(n log n) per doc vs the r12 form's O(distinct · tokens) nested
    // filter-per-distinct-token (`array_max(transform(array_distinct(w),
    // t -> size(filter(w, x -> x = t))))`), which was the query's whole
    // cost (guide §1.2 step 2: per-task work). Max run length of the
    // sorted array == max multiplicity; run starts == distinct count —
    // exact integers, order-independent, value-identical.
    // PRECONDITION (both helpers): arrays are NON-EMPTY with NON-NULL
    // elements — guaranteed here by `size(w) >= 2` and tokens() never
    // emitting nulls. On an empty array maxRun returns 0 where the old
    // array_max(transform(array_distinct(...))) returned NULL, and nDist
    // counts a null element once per occurrence where array_distinct
    // counted it once; reusers must re-establish the guard.
    def maxRun(arr: String) = expr(
      s"aggregate(array_sort($arr), " +
        "named_struct('prev', cast(null as string), 'run', 0, 'best', 0), " +
        "(a, x) -> named_struct('prev', x, " +
        "  'run', IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1, 1), " +
        "  'best', GREATEST(a.best, " +
        "    IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1, 1))), " +
        "a -> a.best)")
    val topTok = maxRun("w")
    val nDist = expr(
      "aggregate(array_sort(w), " +
        "named_struct('prev', cast(null as string), 'd', 0), " +
        "(a, x) -> named_struct('prev', x, " +
        "  'd', a.d + IF(a.prev IS NOT NULL AND x = a.prev, 0, 1)), " +
        "a -> a.d)")
    val topBg = maxRun("bg")
    val topTokF = topTok.cast("double") / n
    val dupF = (n - nDist).cast("double") / n
    val topBgF = topBg.cast("double") / (n - 1)
    base.select(
      col("doc_id"),
      n.as("n_tokens"),
      round4(topTokF).as("top_token_frac"),
      round4(dupF).as("dup_token_frac"),
      round4(topBgF).as("top_bigram_frac"),
      (topTokF <= 0.12 && dupF <= 0.6 && topBgF <= 0.06).as("keep"))
  }

  /** q68: top-3 characteristic terms per doc by tf-idf. The idf is the
    * BM25 rational form (N - df + 0.5)/(df + 0.5) rather than ln(N/df):
    * same ordering, but every step is exact IEEE +,·,/ — bitwise
    * reproducible across engines, where a transcendental ln may drift a
    * ulp and flip a rounding boundary (SURVEY.md §7.4 oracle rule).
    *
    * Scale shape: one token explode → (doc, token) counts with map-side
    * partials; doc lengths and doc frequencies are two SMALL re-aggregates
    * of that count frame (token-count-sized, not corpus-sized); df and the
    * 1-row corpus count broadcast back; final per-doc top-3 is a
    * WindowGroupLimit, never a global sort. */
  val q68TfidfTerms: QuerySpec = QuerySpec(
    "q68_tfidf_terms",
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tf FROM tok
      |  WHERE token <> '' GROUP BY doc_id, token),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY doc_id),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |nd AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
      |    (CAST(tf.tf AS DOUBLE) / dl.n_tokens)
      |      * ((nd.n_docs - df.df + 0.5) / (df.df + 0.5)) AS score
      |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
      |  JOIN df ON tf.token = df.token CROSS JOIN nd)
      |SELECT doc_id, rnk, token, tf, df,
      |  ${round6Sql("score")} AS tfidf FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, token) AS rnk
      |  FROM scored)
      |WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
    val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("n_tokens"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nd = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dl, "doc_id")
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(nd))
      .withColumn("score",
        (col("tf").cast("double") / col("n_tokens"))
          * ((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("token"), col("tf"), col("df"),
        round6(col("score")).as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** q72: the corpus DATA CARD — per (lang, source) stratum: doc/token/
    * char counts and each stratum's share of the corpus (the composition
    * table a dataset release publishes, and the input the q61 mixture
    * weights are tuned against).
    *
    * Scale shape: one scan-local projection (token counts from the split
    * length, no explode) → one (lang, source) hash aggregate with map-side
    * partials → share-of-total via a 1-row broadcast, never a second
    * corpus pass. Percentages are exact integer-ratio doubles, so the
    * oracle pins them at value level. */
  val q72DataCard: QuerySpec = QuerySpec(
    "q72_data_card",
    s"""WITH per AS (
      |  SELECT lang, source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |    CAST(sum(length(text)) AS BIGINT) AS n_chars
      |  FROM documents GROUP BY lang, source),
      |tot AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM per)
      |SELECT lang, source, n_docs, n_tokens, n_chars,
      |  ${round4Sql("CAST(n_docs AS DOUBLE) / t_docs")} AS pct_docs,
      |  ${round4Sql("CAST(n_tokens AS DOUBLE) / t_tokens")} AS pct_tokens
      |FROM per CROSS JOIN tot
      |ORDER BY lang, source""".stripMargin) { (s, dir) =>
    val per = Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"))
    val tot = per.agg(sum(col("n_docs")).as("t_docs"),
      sum(col("n_tokens")).as("t_tokens"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        round4(col("n_docs").cast("double") / col("t_docs")).as("pct_docs"),
        round4(col("n_tokens").cast("double") / col("t_tokens")).as("pct_tokens"))
      .orderBy("lang", "source")
  }

  // ---- BPE merge induction (tokenizer training, pair-count rounds) ------

  final val BpeRounds = 3

  /** One round's weighted adjacent-symbol-pair counts over the vocab.
    * `symseq` is the space-joined symbol sequence with sentinel spaces at
    * both ends (" t h e "). */
  private def bpePairCounts(vocab: DataFrame): DataFrame = vocab
    .select(col("freq"),
      expr("filter(split(symseq, ' '), x -> x <> '')").as("s"))
    .filter(size(col("s")) >= 2)
    .select(col("freq"), explode(expr(
      "transform(sequence(1, size(s) - 1), " +
        "i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))")).as("pair"))
    .groupBy("pair").agg(sum(col("freq")).as("cnt"))

  /** BPE tokenizer induction — the learned-merge half of training a
    * byte-pair-encoding tokenizer on the corpus (q24's `n_bpe_est` is the
    * chars/4 estimate; this computes the actual merge table the estimate
    * stands in for). Per round: count adjacent symbol pairs weighted by
    * word frequency, take the global argmax (count desc, pair asc), fuse
    * it everywhere, repeat.
    *
    * Scale shape — the classic trainer optimization is built in: pairs
    * are counted over the DISTINCT-WORD vocabulary weighted by occurrence
    * counts, so the corpus text is scanned once (one map-side-combined
    * word count); every later round touches only the vocab table, which
    * is `localCheckpoint`ed per round both to bound lineage and because
    * each round's argmax feeds the next round's projection (without the
    * checkpoint the plan re-derives the corpus scan 2^rounds times). The
    * argmax itself is a 1-row top-1 that rides a broadcast crossJoin —
    * index metadata, not a data-plane collect.
    *
    * Merge application is defined as THREE left-to-right non-overlapping
    * `replace` passes of " x y " → " xy " (both engines' `replace` share
    * LTR semantics; a single pass can miss a merge whose leading sentinel
    * space was consumed by the previous match — e.g. " a a a a " — and
    * three passes fix every such chain at any word length that survives
    * the length filters). The DuckDB oracle replays the same unrolled
    * rounds, so the merge table is value-pinned end to end. */
  def bpeMerges(docs: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var vocab = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("symseq",
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")))
      .localCheckpoint(true)
    val merges = (1 to rounds).map { r =>
      val top = bpePairCounts(vocab)
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1)
        .select(lit(r).as("round"), col("pair"), col("cnt"))
        .localCheckpoint(true)
      vocab = vocab.crossJoin(broadcast(top.select(
        concat(lit(" "), col("pair"), lit(" ")).as("__pat"),
        concat(lit(" "), regexp_replace(col("pair"), " ", ""), lit(" "))
          .as("__rep"))))
        .withColumn("symseq", expr(
          "replace(replace(replace(symseq, __pat, __rep), __pat, __rep), __pat, __rep)"))
        .drop("__pat", "__rep")
        .localCheckpoint(true)
      top
    }
    merges.reduce(_ unionByName _)
  }

  /** Process-level cache of the induced merge table, keyed by (corpus
    * CONTENT fingerprint, rounds) — the q145 layout-cache discipline
    * applied to tokenizer induction: q95/q96/q108 all need the same
    * merges, and each [[bpeMerges]] run is `rounds` SEQUENTIAL jobs
    * (argmax → fuse → recount) that nothing can parallelize away, so
    * re-inducing per consumer multiplies the one genuinely serial cost
    * in the text family. The fingerprint (file list + sizes + mtimes)
    * means a regenerated corpus at the same path re-induces instead of
    * serving stale merges; the value is ≤ rounds rows of tokenizer
    * metadata (a real deployment persists it as the tokenizer
    * artifact). ExtSpec pins cached ≡ fresh. */
  private val bpeMergeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Seq[(Int, String, Long)]]()

  private[graft] def bpeMergesCached(s: org.apache.spark.sql.SparkSession,
      dir: String, rounds: Int = BpeRounds): Seq[(Int, String, Long)] =
    bpeMergeCache.computeIfAbsent(
      (Rollup.dirFingerprint(s, s"$dir/documents.parquet"), rounds),
      _ => bpeMerges(Tables.documents(s, dir), rounds).orderBy("round")
        .collect()
        .map(r => (r.getAs[Int]("round"), r.getAs[String]("pair"),
          r.getAs[Long]("cnt"))).toSeq)

  /** CTE chain `v0, p1/t1/v1 … p_rounds/t_rounds` replaying [[bpeMerges]]'
    * induction rounds — `t_r` is round r's winning merge, `v_r` the vocab
    * after applying it. Shared by the q95 and q96 oracles (one source of
    * truth for the trainer replay). */
  private def bpeChainCtes(rounds: Int): String = {
    def pairsCte(v: String, out: String): String =
      s"""$out AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(list_transform(generate_series(1, len(s) - 1),
        |      i -> s[i] || ' ' || s[i + 1])) AS pair
        |    FROM (SELECT freq,
        |            list_filter(string_split(symseq, ' '), x -> x <> '') AS s
        |          FROM $v)
        |    WHERE len(s) >= 2)
        |  GROUP BY pair)""".stripMargin
    val chain = (1 to rounds).map { r =>
      val apply =
        if (r == rounds) ""
        else s""",
          |v$r AS (
          |  SELECT word, freq, replace(replace(replace(symseq,
          |      (SELECT ' ' || pair || ' ' FROM t$r),
          |      (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM t$r)),
          |      (SELECT ' ' || pair || ' ' FROM t$r),
          |      (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM t$r)),
          |      (SELECT ' ' || pair || ' ' FROM t$r),
          |      (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM t$r)) AS symseq
          |  FROM v${r - 1})""".stripMargin
      pairsCte(s"v${r - 1}", s"p$r") + s""",
        |t$r AS (SELECT $r AS round, pair, cnt FROM p$r
        |        ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin + apply
    }.mkString(",\n")
    s"""v0 AS (
      |  SELECT word, count(*) AS freq,
      |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS symseq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) > 0
      |  GROUP BY word),
      |$chain""".stripMargin
  }

  private def bpeOracleSql(rounds: Int): String =
    s"""WITH ${bpeChainCtes(rounds)}
      |${(1 to rounds).map(r => s"SELECT round, pair, cnt FROM t$r").mkString("\nUNION ALL ")}
      |ORDER BY round""".stripMargin

  /** q95: the first [[BpeRounds]] learned BPE merges over the corpus
    * (served from the per-corpus [[bpeMergesCached]] table, induced once
    * per run for q95/q96/q108 together). */
  val q95BpeMerges: QuerySpec = QuerySpec(
    "q95_bpe_merges", bpeOracleSql(BpeRounds)) { (s, dir) =>
    import s.implicits._
    bpeMergesCached(s, dir).toDF("round", "pair", "cnt").orderBy("round")
  }

  /** Apply a learned merge table to the corpus — the ENCODE half of the
    * tokenizer loop ([[bpeMerges]] is train): per doc, split to words,
    * expand each word to its sentinel-padded symbol sequence, fuse the
    * merges in rank order (the same three-pass LTR `replace` semantics the
    * trainer defines — apply MUST replay train's exact fusion rule or the
    * token counts drift from the vocab the merges were induced on), and
    * count surviving symbols. Output is the per-doc token accounting a
    * packing/budgeting stage consumes (q62/q84 run on estimates; this is
    * the real count for the learned vocab).
    *
    * Scale shape: the merge table is a `lit` chain — ≤ rounds strings of
    * tokenizer METADATA (the IVF-centroid driver-side class; a real run
    * loads it from the tokenizer artifact rather than re-inducing). The
    * encode itself is pure scan-local array expressions — zero shuffles,
    * zero joins: per-word memoization (encode each DISTINCT word once,
    * join counts back) would trade a shuffle on a skewed word key for
    * work that is already O(|word| · rounds) string ops, a loss at any
    * scale. */
  def bpeEncode(docs: DataFrame, merges: Seq[String]): DataFrame = {
    require(merges.nonEmpty, "at least one merge required")
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    def rep3(s: Column, pat: Column, rp: Column): Column =
      replace(replace(replace(s, pat, rp), pat, rp), pat, rp)
    val sym0 = transform(col("__words"),
      w => concat(lit(" "), regexp_replace(w, "(.)", "$1 ")))
    val fused = merges.foldLeft(sym0) { (acc, pair) =>
      val pat = lit(s" $pair ")
      val rp = lit(" " + pair.replace(" ", "") + " ")
      transform(acc, s => rep3(s, pat, rp))
    }
    docs
      .withColumn("__words", words)
      .select(col("doc_id"), col("source"), col("lang"),
        size(col("__words")).cast("long").as("n_words"),
        aggregate(fused, lit(0L), (a, s) =>
          a + size(filter(split(s, " "), x => length(x) > 0)).cast("long"))
          .as("n_bpe_tokens"))
  }

  /** q96: induce the [[BpeRounds]] merges (q95) then encode the corpus
    * with them — train + apply pinned end-to-end. The oracle replays the
    * induction chain ([[bpeChainCtes]]) and the same per-word fusion. */
  val q96BpeEncode: QuerySpec = QuerySpec(
    "q96_bpe_encode", {
      val m = (1 to BpeRounds).map { r =>
        (s: String) => s"""replace(replace(replace($s,
          |    (SELECT ' ' || pair || ' ' FROM t$r),
          |    (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM t$r)),
          |    (SELECT ' ' || pair || ' ' FROM t$r),
          |    (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM t$r)),
          |    (SELECT ' ' || pair || ' ' FROM t$r),
          |    (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM t$r))""".stripMargin
      }
      val enc = m.foldLeft("s")((acc, f) => f(acc))
      s"""WITH ${bpeChainCtes(BpeRounds)},
        |w AS (
        |  SELECT doc_id, source,
        |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s
        |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0),
        |f AS (SELECT doc_id, source, $enc AS s FROM w),
        |g AS (
        |  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(len(list_filter(string_split(s, ' '), x -> x <> '')))
        |      AS BIGINT) AS n_bpe_tokens
        |  FROM f GROUP BY doc_id, source)
        |SELECT d.doc_id AS doc_id, d.source AS source,
        |  CAST(coalesce(g.n_words, 0) AS BIGINT) AS n_words,
        |  CAST(coalesce(g.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
        |FROM documents d LEFT JOIN g USING (doc_id, source)
        |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val merges = bpeMergesCached(s, dir).map(_._2)
    bpeEncode(docs, merges)
      .select("doc_id", "source", "n_words", "n_bpe_tokens")
      .orderBy("doc_id")
  }

  /** Tokenizer fertility audit — subword tokens per word, per language:
    * THE tokenizer-fairness metric (a vocab trained on one language's
    * distribution fragments the others; fertility quantifies how much
    * sequence budget each language burns per word, which prices both
    * training cost and effective context length). Groups the real
    * [[bpeEncode]] counts under the corpus-induced merges.
    *
    * Scale shape: the q96 encode plan (scan-local string ops, merge
    * table as literal metadata) plus ONE map-side-combined aggregate at
    * language cardinality. */
  def tokenizerFertility(docs: DataFrame, merges: Seq[String]): DataFrame = {
    bpeEncode(docs, merges)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe_tokens"),
        round4(col("n_bpe_tokens").cast("double") / col("n_words"))
          .as("fertility"))
  }

  /** q108: fertility per language under the q95-induced merges. Oracle:
    * the q96 chain grouped by lang, the ratio in the shared floor-round
    * arithmetic. */
  val q108TokenizerFertility: QuerySpec = QuerySpec(
    "q108_tokenizer_fertility", {
      val m = (1 to BpeRounds).map { r =>
        (s: String) => s"""replace(replace(replace($s,
          |    (SELECT ' ' || pair || ' ' FROM t$r),
          |    (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM t$r)),
          |    (SELECT ' ' || pair || ' ' FROM t$r),
          |    (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM t$r)),
          |    (SELECT ' ' || pair || ' ' FROM t$r),
          |    (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM t$r))""".stripMargin
      }
      val enc = m.foldLeft("s")((acc, f) => f(acc))
      s"""WITH ${bpeChainCtes(BpeRounds)},
        |w AS (
        |  SELECT doc_id, lang,
        |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0),
        |f AS (SELECT doc_id, lang, $enc AS s FROM w),
        |g AS (
        |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_words,
        |    CAST(sum(len(list_filter(string_split(s, ' '), x -> x <> '')))
        |      AS BIGINT) AS n_bpe_tokens
        |  FROM f GROUP BY doc_id, lang)
        |SELECT d.lang AS lang, count(*) AS n_docs,
        |  CAST(sum(coalesce(g.n_words, 0)) AS BIGINT) AS n_words,
        |  CAST(sum(coalesce(g.n_bpe_tokens, 0)) AS BIGINT) AS n_bpe_tokens,
        |  ${round4Sql(
             "CAST(sum(coalesce(g.n_bpe_tokens, 0)) AS DOUBLE) / sum(coalesce(g.n_words, 0))")} AS fertility
        |FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id
        |GROUP BY d.lang
        |ORDER BY lang""".stripMargin
    }) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val merges = bpeMergesCached(s, dir).map(_._2)
    tokenizerFertility(docs, merges).orderBy("lang")
  }

  /** Per-source quality quantiles — the calibration table behind every
    * threshold in the funnel/tier/cap family: a single global cut (q63's
    * 0.4, q88's bands) implicitly assumes sources share a quality
    * distribution; this table shows each source's actual quartiles +
    * tails so a per-source cut can be argued from data. Same exact-
    * percentile form as q57 (gate-scale; the q47/q59 GK-sketch harness
    * is the declared scale twin for percentile work).
    *
    * Scale shape: scan-local quality arithmetic + ONE aggregate at
    * source cardinality; exact percentiles hold each group's values —
    * at real scale swap in the sketch twin, as the q18/q47 pairing
    * documents. */
  def sourceQualityQuantiles(docs: DataFrame): DataFrame = {
    val (lenS, ttr, stop) = qualityParts(col("text"))
    docs.select(col("source"), qualityScore(lenS, ttr, stop).as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round4(expr("percentile(q, 0.25)")).as("p25"),
        round4(expr("percentile(q, 0.5)")).as("p50"),
        round4(expr("percentile(q, 0.75)")).as("p75"),
        round4(expr("percentile(q, 0.95)")).as("p95"),
        round4(min(col("q"))).as("q_min"),
        round4(max(col("q"))).as("q_max"))
  }

  /** q116: the per-source quality calibration table. */
  val q116SourceQualityQuantiles: QuerySpec = QuerySpec(
    "q116_source_quality_quantiles",
    s"""WITH p AS (
      |  ${qualityPartsSql(", source")}),
      |f AS (SELECT source, $QualityBlendSql AS q FROM p)
      |SELECT source, count(*) AS n_docs,
      |  ${round4Sql("quantile_cont(q, 0.25)")} AS p25,
      |  ${round4Sql("quantile_cont(q, 0.5)")} AS p50,
      |  ${round4Sql("quantile_cont(q, 0.75)")} AS p75,
      |  ${round4Sql("quantile_cont(q, 0.95)")} AS p95,
      |  ${round4Sql("min(q)")} AS q_min,
      |  ${round4Sql("max(q)")} AS q_max
      |FROM f GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    sourceQualityQuantiles(Tables.documents(s, dir)).orderBy("source")
  }

  // ---- Count-Min sketch heavy hitters ------------------------------------

  final val CmsDepth = 3
  final val CmsWidth = 512
  final val CmsTopK = 20

  /** Count-Min sketch heavy hitters — the streaming-friendly frequent-
    * token sketch (Cormode & Muthukrishnan): `depth` hash rows × `width`
    * buckets of occurrence counts; a token's estimate is the MIN of its
    * buckets, guaranteeing est ≥ true with overshoot ≤ εN w.h.p. This is
    * the q47/q59 sketch-validation pattern applied to the token domain:
    * the production operator is the sketch (fixed d×w state regardless
    * of vocabulary size — mergeable across partitions, maintainable on a
    * stream); the exact counts ride along at gate scale to make the
    * bound OBSERVABLE, and the whole thing is integer-exact so the
    * oracle is full value-level (salted md5 bucket arithmetic, the
    * [[Sampling.hashBucket]] spelling).
    *
    * Scale shape: sketch build is one explode + ONE map-side-combined
    * aggregate bounded at d×w rows; the candidate probe joins the
    * BROADCAST sketch (d×w rows — index metadata); the exact side is the
    * q56 vocabulary aggregate, the declared harness cost. Top-k plans as
    * TakeOrdered. */
  /** The d×w Count-Min state as a (r, b, c) frame — ONE map-side-combined
    * aggregate whose cardinality is depth × width regardless of corpus
    * size. Streaming-capable: the same expression tree runs as a
    * COMPLETE-mode aggregation over a document stream (state = d×w rows,
    * bounded by construction, no watermark needed — the q103 monitor
    * pattern), which is the maintainable form the sketch exists for;
    * StreamingSpec pins stream ≡ batch. */
  def cmsSketch(docs: DataFrame, depth: Int = CmsDepth,
      width: Int = CmsWidth): DataFrame = {
    require(depth >= 1 && width >= 1, "cms params must be positive")
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    val rowStructs = (0 until depth).map(i => struct(lit(i).as("r"),
      Sampling.hashBucket(col("token"), width, salt = s"cms$i:").as("b")))
    toks.select(explode(array(rowStructs: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  def cmsHeavyHitters(docs: DataFrame, depth: Int = CmsDepth,
      width: Int = CmsWidth, k: Int = CmsTopK): DataFrame = {
    require(depth >= 1 && width >= 1 && k >= 1, "cms params must be positive")
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    val sketch = cmsSketch(docs, depth, width)
    val exact = toks.groupBy("token").agg(count(lit(1)).as("exact_count"))
    val withBuckets = exact.select(
      col("token") +: col("exact_count") +:
        (0 until depth).map(i =>
          Sampling.hashBucket(col("token"), width, salt = s"cms$i:")
            .as(s"b$i")): _*)
    val joined = (0 until depth).foldLeft(withBuckets) { (df, i) =>
      df.join(broadcast(sketch.filter(col("r") === i)
        .select(col("b").as(s"b$i"), col("c").as(s"c$i"))), Seq(s"b$i"))
    }
    joined.select(col("token"),
        least((0 until depth).map(i => col(s"c$i")): _*).as("cms_est"),
        col("exact_count"))
      .orderBy(col("cms_est").desc, col("token"))
      .limit(k)
  }

  /** Persist the CMS sketch as a tiny parquet table (d×w rows). The
    * index form of the q119 monitor: build pays the corpus scan once;
    * each batch afterwards merges its own sketch in — Count-Min state is
    * an elementwise SUM, so merge is a d×w-row aggregate (index
    * metadata, never corpus data). Build and append both publish through
    * [[graft.pipeline.Store.republish]]: a failed rebuild or a crashed
    * append leaves the previous sketch readable, and readers never see a
    * half-written merge. */
  def buildCmsIndex(docs: DataFrame, dir: String): Unit =
    graft.pipeline.Store.republish(docs.sparkSession, s"$dir/sketch",
      "cms build")(cmsSketch(docs))

  /** Merge a batch's sketch into a persisted index without re-scanning
    * the corpus the index already covers. */
  def appendToCmsIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame): Unit =
    graft.pipeline.Store.republish(spark, s"$dir/sketch", "cms append")(
      readCmsIndex(spark, dir).unionByName(cmsSketch(batch))
        .groupBy("r", "b").agg(sum(col("c")).as("c")))

  /** Read a persisted sketch. Read-only: a crashed append swap is served
    * from the backup; the rename repair belongs to the next writer op
    * (a reader cannot tell a crashed swap from one in flight). */
  def readCmsIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.pipeline.Store.readRecoverableReadOnly(spark, s"$dir/sketch",
      "cms read")

  /** Probe a (possibly streamed) CMS sketch: estimate the count of each
    * row of `queryTokens` (a `token` column) as the min over the sketch's
    * depth rows — the sketch broadcasts (d×w rows of index metadata).
    * LEFT joins + coalesce(c, 0): a token whose bucket has no sketch row
    * (a counter no corpus token ever hashed to) gets the correct Count-Min
    * estimate of 0 — the unseen-token probe (decontamination lookups) is
    * exactly what this estimator exists for, so every query token must
    * yield a row. */
  def cmsEstimate(sketch: DataFrame, queryTokens: DataFrame,
      depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame = {
    val withBuckets = queryTokens.select(
      col("token") +: (0 until depth).map(i =>
        Sampling.hashBucket(col("token"), width, salt = s"cms$i:")
          .as(s"b$i")): _*)
    val joined = (0 until depth).foldLeft(withBuckets) { (df, i) =>
      df.join(broadcast(sketch.filter(col("r") === i)
        .select(col("b").as(s"b$i"), col("c").as(s"c$i"))),
        Seq(s"b$i"), "left")
    }
    joined.select(col("token"),
      least((0 until depth).map(i =>
        coalesce(col(s"c$i"), lit(0L))): _*).as("cms_est"))
  }

  /** q119: CMS top-20 heavy hitters with the exact counts alongside. */
  val q119CmsHeavyHitters: QuerySpec = QuerySpec(
    "q119_cms_heavy_hitters", {
      def bucket(i: Int) = Sampling.hashBucketSql("token", CmsWidth, s"cms$i:")
      val rs = (0 until CmsDepth)
        .map(i => s"SELECT token, $i AS r, ${bucket(i)} AS b FROM tok")
        .mkString("\n  UNION ALL ")
      val joins = (0 until CmsDepth)
        .map(i => s"JOIN sk s$i ON s$i.r = $i AND s$i.b = wb.b$i")
        .mkString("\n  ")
      s"""WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |rb AS (
        |  $rs),
        |sk AS (SELECT r, b, count(*) AS c FROM rb GROUP BY r, b),
        |wb AS (
        |  SELECT token, count(*) AS exact_count,
        |    ${(0 until CmsDepth).map(i => s"${bucket(i)} AS b$i").mkString(",\n    ")}
        |  FROM tok GROUP BY token)
        |SELECT token,
        |  CAST(least(${(0 until CmsDepth).map(i => s"s$i.c").mkString(", ")}) AS BIGINT) AS cms_est,
        |  CAST(exact_count AS BIGINT) AS exact_count
        |FROM wb
        |  $joins
        |ORDER BY cms_est DESC, token
        |LIMIT $CmsTopK""".stripMargin
    }) { (s, dir) =>
    cmsHeavyHitters(Tables.documents(s, dir))
  }

  // ---- BM25 keyword retrieval --------------------------------------------

  /** The fixed query-term panel (mid- and low-frequency corpus words so
    * idf actually differentiates; `dup` is the rare discriminator). */
  final val Bm25Terms: Seq[String] = Seq("vector", "merge", "stream", "dup")
  final val Bm25K1 = 1.2
  final val Bm25B = 0.75
  final val Bm25TopK = 20

  /** Exact per-document term frequency via the DOUBLED-space pad: after
    * `replace(text, ' ', '  ')` every token is flanked by its own spaces,
    * so ` term ` occurrences never overlap and the replace-delta count is
    * the true tf (the plain [[occurrences]] pad undercounts adjacent
    * repeats — fine for marker scoring, wrong for tf). */
  def termFreq(text: Column, term: String): Column = {
    val p2 = concat(lit(" "), replace(text, lit(" "), lit("  ")), lit(" "))
    val m = s" $term "
    ((length(p2) - length(replace(p2, lit(m), lit("")))) / m.length).cast("int")
  }

  /** BM25 keyword search — the inverted-index retrieval face of the q68
    * statistics: score every document against a fixed term panel with
    * Robertson/Sparck-Jones BM25 (k1=1.2, b=0.75) and return the top-k.
    * The idf is the rational BM25 form (N - df + 0.5)/(df + 0.5) — no
    * transcendental, so the oracle pins values (q68's lesson), and the
    * 4-term score sum is written in fixed panel order in both engines.
    *
    * Scale shape: corpus stats (N, Σdl, per-term df) are ONE map-side-
    * combined aggregate producing a single broadcast row — tf and dl are
    * scan-local string expressions, so there is no token explode and no
    * (doc, token) shuffle at all, unlike a posting-list build. Scoring is
    * a second scan-local projection over that broadcast, and the top-k
    * plans as TakeOrderedAndProject. Two corpus scans, zero wide
    * exchanges — at 100 TB the only data movement is the 1-row stats
    * aggregate and k result rows. */
  def bm25Search(docs: DataFrame, terms: Seq[String] = Bm25Terms,
      k: Int = Bm25TopK): DataFrame = {
    require(terms.nonEmpty && k >= 1, "bm25 needs terms and k >= 1")
    val dl = size(tokens(col("text")))
    val withTf = docs.select(
      col("doc_id") +: dl.as("dl") +:
        terms.map(t => termFreq(col("text"), t).as(s"tf_$t")): _*)
    val statCols = count(lit(1)).as("n_docs") +: sum(col("dl")).as("total_dl") +:
      terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = withTf.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("total_dl").cast("double") / col("n_docs")
    val contrib = terms.map { t =>
      val idf = (col("n_docs") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5)
      idf * (col(s"tf_$t") * (Bm25K1 + 1.0)) /
        (col(s"tf_$t") +
          lit(Bm25K1) * (lit(1.0) - Bm25B + lit(Bm25B) * col("dl") / avgdl))
    }
    val matched = terms.map(t => when(col(s"tf_$t") > 0, 1).otherwise(0))
      .reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .withColumn("bm25", round6(contrib.reduce(_ + _)))
      .withColumn("matched_terms", matched)
      .filter(col("matched_terms") > 0)
      .select(col("doc_id") +: col("dl").as("n_tokens") +:
        col("matched_terms") +: col("bm25") +:
        terms.map(t => col(s"tf_$t")): _*)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** q121: BM25 top-20 for the fixed term panel, tf columns alongside. */
  val q121Bm25Search: QuerySpec = QuerySpec(
    "q121_bm25_search", {
      def tfSql(t: String) =
        s"CAST((len(p2) - len(replace(p2, ' $t ', ''))) / ${t.length + 2} AS INT)"
      val tfCols = Bm25Terms.map(t => s"${tfSql(t)} AS tf_$t").mkString(",\n    ")
      val dfCols = Bm25Terms
        .map(t => s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
        .mkString(",\n    ")
      val contrib = Bm25Terms.map { t =>
        s"((n_docs - df_$t + 0.5) / (df_$t + 0.5)) * (tf_$t * ${Bm25K1 + 1.0}) / " +
          s"(tf_$t + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / (CAST(total_dl AS DOUBLE) / n_docs)))"
      }.mkString("\n    + ")
      val matched = Bm25Terms
        .map(t => s"CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH tf AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS dl,
        |    $tfCols
        |  FROM (SELECT doc_id, text,
        |          ' ' || replace(text, ' ', '  ') || ' ' AS p2
        |        FROM documents)),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(dl) AS BIGINT) AS total_dl,
        |    $dfCols
        |  FROM tf)
        |SELECT doc_id, dl AS n_tokens, $matched AS matched_terms,
        |  ${round6Sql(contrib)} AS bm25,
        |  ${Bm25Terms.map(t => s"tf_$t").mkString(", ")}
        |FROM tf CROSS JOIN st
        |WHERE ($matched) > 0
        |ORDER BY bm25 DESC, doc_id
        |LIMIT $Bm25TopK""".stripMargin
    }) { (s, dir) =>
    bm25Search(Tables.documents(s, dir))
  }

  // ---- Per-source novelty & lexical-diversity card -----------------------

  /** Per-source vocabulary card — the "is this source adding anything"
    * audit a mixture tuner reads next to the q72 composition card: token
    * volume, distinct vocabulary, the slice of that vocabulary appearing
    * in NO other source (novelty — a mirror or syndication feed scores
    * ~0), and Simpson lexical diversity 1 − Σc²/N² (the rational
    * stand-in for token entropy: 0 = one token repeated, →1 = uniform —
    * no transcendental, so the oracle pins values; the q120/q68 rule).
    *
    * Scale shape: one token explode → (source, token) counts with
    * map-side partials — the only corpus-sized shuffle; the per-token
    * source-spread table is a re-aggregate of that count frame
    * (vocab-sized) joined back broadcast; everything else folds to
    * #sources rows. Σc² stays in BIGINT. */
  def sourceNoveltyCard(docs: DataFrame): DataFrame = {
    val c = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val spread = c.groupBy("token")
      .agg(count(lit(1)).as("n_sources"))
    c.join(broadcast(spread), "token")
      .groupBy("source")
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum(when(col("n_sources") === 1, 1L).otherwise(0L)).as("unique_tokens"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("source"), col("n_tokens"), col("distinct_tokens"),
        col("unique_tokens"),
        round6(col("unique_tokens").cast("double") / col("distinct_tokens"))
          .as("novelty_share"),
        // divide twice: n_tokens² overflows BIGINT at real corpus sizes
        round6(lit(1.0) - col("sum_c2").cast("double") /
          col("n_tokens") / col("n_tokens")).as("simpson_diversity"))
      .orderBy("source")
  }

  /** q124: the novelty/diversity card per source. */
  val q124SourceNovelty: QuerySpec = QuerySpec(
    "q124_source_novelty",
    s"""WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |c AS (
      |  SELECT source, token, CAST(count(*) AS BIGINT) AS c
      |  FROM tok WHERE token <> '' GROUP BY source, token),
      |sp AS (SELECT token, count(*) AS n_sources FROM c GROUP BY token)
      |SELECT source,
      |  CAST(sum(c) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS distinct_tokens,
      |  CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT) AS unique_tokens,
      |  ${round6Sql("CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS novelty_share,
      |  ${round6Sql("1.0 - CAST(sum(c * c) AS DOUBLE) / CAST(sum(c) AS BIGINT) / CAST(sum(c) AS BIGINT)")} AS simpson_diversity
      |FROM c JOIN sp USING (token)
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    sourceNoveltyCard(Tables.documents(s, dir))
  }

  /** Pairwise source VOCABULARY overlap — the mixture-design diagnostic
    * next to q124's per-source novelty card: novelty says how much of a
    * source's vocabulary is exclusive, this says WHICH pairs share it
    * (two mirrors of the same feed show near-1 Jaccard; a genuinely
    * complementary source pair shows a low one), the evidence for
    * dropping one of a redundant pair before paying its dedup cost.
    * Exact integer Jaccard in ppm (floor-div), ordered (s1, s2).
    *
    * Scale shape: ONE token explode into the (source, token) presence
    * frame (the q124 aggregate, map-side combined), then a vocab-keyed
    * self-equi-join whose per-token fanout is bounded by #sources² —
    * never an all-pairs document comparison — and a #source-pairs
    * aggregate; per-source vocab sizes ride a broadcast join. */
  def sourceVocabOverlap(docs: DataFrame): DataFrame = {
    val pres = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .select("source", "token").distinct()
    val sizes = pres.groupBy("source").agg(count(lit(1)).as("nv"))
    val inter = pres.as("a").join(pres.as("b"),
        col("a.token") === col("b.token") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("n_inter"))
    // every pair appears, including ZERO-overlap ones (the most
    // informative rows — fully complementary sources): the pair axis is
    // the #sources² crossJoin of the size frame (metadata), the inter
    // counts left-join onto it
    sizes.select(col("source").as("s1"), col("nv").as("nv1"))
      .crossJoin(sizes.select(col("source").as("s2"), col("nv").as("nv2")))
      .filter(col("s1") < col("s2"))
      .join(inter, Seq("s1", "s2"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .select(col("s1"), col("s2"), col("nv1"), col("nv2"), col("n_inter"),
        expr("n_inter * 1000000L div (nv1 + nv2 - n_inter)")
          .as("jaccard_ppm"))
      .orderBy("s1", "s2")
  }

  /** q184: the pairwise source vocabulary-overlap card. */
  val q184SourceVocabOverlap: QuerySpec = QuerySpec(
    "q184_source_vocab_overlap",
    """WITH pres AS (
      |  SELECT DISTINCT source, token FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS token
      |    FROM documents)
      |  WHERE token <> ''),
      |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv
      |  FROM pres GROUP BY source),
      |iv AS (
      |  SELECT a.source AS s1, b.source AS s2,
      |    CAST(count(*) AS BIGINT) AS n_inter
      |  FROM pres a JOIN pres b
      |    ON a.token = b.token AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT z1.source AS s1, z2.source AS s2, z1.nv AS nv1, z2.nv AS nv2,
      |  CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter,
      |  CAST(coalesce(n_inter, 0) * 1000000
      |    // (z1.nv + z2.nv - coalesce(n_inter, 0)) AS BIGINT)
      |    AS jaccard_ppm
      |FROM sz z1 JOIN sz z2 ON z1.source < z2.source
      |LEFT JOIN iv ON iv.s1 = z1.source AND iv.s2 = z2.source
      |ORDER BY s1, s2""".stripMargin) { (s, dir) =>
    sourceVocabOverlap(Tables.documents(s, dir))
  }

  /** Pairwise source overlap WEIGHTED by token frequency — the second
    * axis of the q184 mixture diagnostic. Presence-Jaccard treats a
    * token seen once like a token carrying half the corpus, so two
    * sources sharing only long-tail vocabulary and two mirroring each
    * other's high-frequency mass score the same; the cosine over the
    * per-source token-COUNT vectors separates them (mirrored mass →
    * cosine near 1 even when Jaccard is modest), which is the actual
    * drop-a-mirror decision input. Published exact where possible
    * (shared-token count; total tokens) plus the cosine in floor'd ppm:
    * dot and the squared norms accumulate in DECIMAL(38,0) (loudly
    * guarded — counts can reach 10^11 per token at corpus scale, so
    * their products leave LONG), and the single irrational step runs
    * the IDENTICAL double expression in both engines
    * (`floor(dot / sqrt(ss1·ss2) · 10⁶)` — one cast per operand, one
    * sqrt, IEEE ops are bit-stable across engines when the expression
    * shape matches).
    *
    * Scale shape: identical to q184 — ONE token explode into the
    * (source, token, count) frame, a vocab-keyed self-equi-join with
    * sources²-bounded per-token fanout (never all-pairs documents),
    * and the sources² crossJoin of the per-source size METADATA frame
    * as the pair axis so zero-overlap pairs surface. */
  def sourceWeightedOverlap(docs: DataFrame): DataFrame = {
    def loud(value: Column, what: String): Column =
      when(value.isNotNull, value).otherwise(raise_error(lit(
        s"$what: DECIMAL(38,0) overflow in exact integer arithmetic — " +
          "downscale token counts before multiplying")))
    val cnt = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val sizes = cnt.groupBy("source").agg(
      sum(col("c")).as("n"),
      sum(col("c").cast("decimal(38,0)") * col("c")).as("ss"))
    val dots = cnt.as("a")
      .join(cnt.as("b"), col("a.token") === col("b.token") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("a.c").cast("decimal(38,0)") * col("b.c")).as("dot"))
    sizes.select(col("source").as("s1"), col("n").as("n1"),
        col("ss").as("ss1"))
      .crossJoin(sizes.select(col("source").as("s2"), col("n").as("n2"),
        col("ss").as("ss2")))
      .filter(col("s1") < col("s2"))
      .join(dots, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"), col("n1"), col("n2"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        floor(
          // a NULL dot from the left join means a ZERO-overlap pair;
          // a NULL dot on an EXISTING pair (n_common non-null) means
          // the decimal sum saturated — only that raises
          when(col("n_common").isNull, lit(0.0))
            .otherwise(loud(col("dot"), "q188 dot").cast("double")) /
            sqrt(loud(col("ss1"), "q188 ss1").cast("double") *
              loud(col("ss2"), "q188 ss2").cast("double")) * lit(1000000.0))
          .cast("long").as("cosine_ppm"))
      .orderBy("s1", "s2")
  }

  /** q188: the token-frequency-weighted source-overlap card. */
  val q188SourceWeightedOverlap: QuerySpec = QuerySpec(
    "q188_source_weighted_overlap",
    """WITH cnt AS (
      |  SELECT source, token, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS token
      |    FROM documents)
      |  WHERE token <> '' GROUP BY source, token),
      |sz AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
      |    sum(CAST(c AS HUGEINT) * c) AS ss
      |  FROM cnt GROUP BY source),
      |dt AS (
      |  SELECT a.source AS s1, b.source AS s2,
      |    CAST(count(*) AS BIGINT) AS n_common,
      |    sum(CAST(a.c AS HUGEINT) * b.c) AS dot
      |  FROM cnt a JOIN cnt b
      |    ON a.token = b.token AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT z1.source AS s1, z2.source AS s2, z1.n AS n1, z2.n AS n2,
      |  CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
      |  CAST(floor(CAST(coalesce(dot, 0) AS DOUBLE)
      |    / sqrt(CAST(z1.ss AS DOUBLE) * CAST(z2.ss AS DOUBLE))
      |    * 1000000.0) AS BIGINT) AS cosine_ppm
      |FROM sz z1 JOIN sz z2 ON z1.source < z2.source
      |LEFT JOIN dt ON dt.s1 = z1.source AND dt.s2 = z2.source
      |ORDER BY s1, s2""".stripMargin) { (s, dir) =>
    sourceWeightedOverlap(Tables.documents(s, dir))
  }

  /** Vocabulary coverage / OOV rate at fixed vocab budgets — the
    * tokenizer-sizing card: "if the vocabulary keeps only the top-B
    * types, what fraction of corpus TOKEN occurrences is covered, and
    * what hits OOV?" (the curve that picks a BPE/vocab size before
    * induction, complementing q95's merges and q108's fertility).
    *
    * EXACT at any scale without ranking the vocabulary: fold token
    * counts into the frequency-of-frequencies frame (count value →
    * how many types have it, total mass) — Zipf-bounded metadata
    * (distinct count VALUES, not distinct tokens), thousands of rows on
    * web corpora of any size. A cumulative window over that frame
    * (ordered by count desc; keys are distinct by construction) gives
    * types-above / mass-above each count class; budget B's boundary
    * falls inside exactly one class, and because every type in a class
    * has the SAME count, the covered mass `mass_above +
    * (B − types_above)·cnt` is exact no matter which tie types a real
    * tokenizer would pick. The budget probe is a 3-row broadcast
    * range-join against that frame (BNLJ over two aggregate-reduced
    * sides). coverage_ppm is integer floor arithmetic — DECIMAL(38,0) /
    * HUGEINT clears 10⁶·mass past 10¹⁶ tokens.
    *
    * The unpartitioned window is adjudicated in PlanSweepSpec's
    * metadata-frame allowlist: the freq-of-freq frame's cardinality is
    * set by the count-value DOMAIN (≤ distinct frequencies, Zipf-tiny),
    * never by corpus size. */
  def vocabCoverage(docs: DataFrame, budgets: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgets.nonEmpty && budgets.forall(_ >= 1), s"bad budgets: $budgets")
    val tc = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val ff = tc.groupBy("cnt").agg(count(lit(1)).as("n_tok"))
      .withColumn("mass", col("cnt") * col("n_tok"))
    val above = Window.orderBy(col("cnt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = ff
      .withColumn("tok_above", coalesce(sum(col("n_tok")).over(above), lit(0L)))
      .withColumn("mass_above", coalesce(sum(col("mass")).over(above), lit(0L)))
    val bud = ff
      .agg(sum(col("n_tok")).as("vocab_size"),
        sum(col("mass")).as("total_tokens"))
      .select(explode(array(budgets.map(lit(_)): _*)).as("budget"),
        col("vocab_size"), col("total_tokens"))
    bud
      .join(ranked,
        col("tok_above") < col("budget")
          && col("budget") <= col("tok_above") + col("n_tok"), "left")
      .select(col("budget"), col("vocab_size"), col("total_tokens"),
        when(col("budget") >= col("vocab_size"), col("total_tokens"))
          .otherwise(col("mass_above")
            + (col("budget") - col("tok_above")) * col("cnt"))
          .as("covered_tokens"))
      .withColumn("coverage_ppm", expr(
        "CAST((1000000 * CAST(covered_tokens AS DECIMAL(38,0)))" +
          " DIV total_tokens AS BIGINT)"))
      .withColumn("oov_ppm", lit(1000000L) - col("coverage_ppm"))
      .orderBy("budget")
  }

  /** q191: the coverage curve over `documents`. Budgets sit below this
    * corpus's 31-type vocabulary (5/10/20) so every scale factor shows a
    * real partial-coverage curve, plus one past it (50) pinning the
    * full-coverage clamp; a web-corpus deployment would run the same
    * operator at 10³…10⁵. */
  val q191VocabCoverage: QuerySpec = QuerySpec(
    "q191_vocab_coverage",
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |tc AS (
      |  SELECT token, CAST(count(*) AS BIGINT) AS cnt
      |  FROM tok WHERE token <> '' GROUP BY token),
      |ff AS (
      |  SELECT cnt, CAST(count(*) AS BIGINT) AS n_tok,
      |    CAST(cnt * count(*) AS BIGINT) AS mass
      |  FROM tc GROUP BY cnt),
      |rk AS (
      |  SELECT cnt, n_tok, mass,
      |    CAST(coalesce(sum(n_tok) OVER (ORDER BY cnt DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_above,
      |    CAST(coalesce(sum(mass) OVER (ORDER BY cnt DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS mass_above
      |  FROM ff),
      |tot AS (
      |  SELECT CAST(sum(n_tok) AS BIGINT) AS vocab_size,
      |    CAST(sum(mass) AS BIGINT) AS total_tokens
      |  FROM ff),
      |bud AS (SELECT unnest([5, 10, 20, 50]) AS budget),
      |j AS (
      |  SELECT b.budget, t.vocab_size, t.total_tokens,
      |    CASE WHEN b.budget >= t.vocab_size THEN t.total_tokens
      |      ELSE r.mass_above + (b.budget - r.tok_above) * r.cnt END AS covered_tokens
      |  FROM bud b CROSS JOIN tot t
      |  LEFT JOIN rk r ON r.tok_above < b.budget
      |    AND b.budget <= r.tok_above + r.n_tok)
      |SELECT budget, vocab_size, total_tokens,
      |  CAST(covered_tokens AS BIGINT) AS covered_tokens,
      |  CAST((1000000 * CAST(covered_tokens AS HUGEINT)) // total_tokens
      |    AS BIGINT) AS coverage_ppm,
      |  CAST(1000000 - (1000000 * CAST(covered_tokens AS HUGEINT))
      |    // total_tokens AS BIGINT) AS oov_ppm
      |FROM j ORDER BY budget""".stripMargin) { (s, dir) =>
    vocabCoverage(Tables.documents(s, dir), Seq(5, 10, 20, 50))
  }

  /** Vocabulary-growth (Heaps' law) curve over corpus prefixes — the
    * capacity-planning card a tokenizer/vocab owner reads before the
    * next training run: at the ¼/½/¾/full doc_id prefixes, total token
    * occurrences, DISTINCT types, hapax legomena (types seen once — the
    * long-tail mass a vocab cut discards) and the exact type-token
    * ratio in ppm. A corpus whose distinct-type curve keeps rising
    * steeply is nowhere near vocab saturation; a flattening curve says
    * a bigger vocab buys little. Scale shape: ONE token explode joined
    * to the 4-row broadcast threshold axis (built from the 1-row max
    * aggregate — a reduced BNLJ build side, the scalar-threshold
    * pattern), then one (quarter, token) hash-agg and a 4-row fold —
    * the q194 exploded-axis discipline (one shuffle for all four
    * prefixes instead of one pass per prefix); no window, no collect.
    * Exact integers end to end. */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val quarters = docs.agg(max(col("doc_id")).as("max_id"))
      .select(explode(array((1 to 4).map(lit): _*)).as("quarter"),
        col("max_id"))
      .select(col("quarter"),
        expr("((max_id + 1) * quarter) div 4").as("threshold"))
    val toks = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("token"))
    toks.join(broadcast(quarters), toks("doc_id") < quarters("threshold"))
      .groupBy("quarter", "token").agg(count(lit(1)).as("n"))
      .groupBy("quarter").agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("quarter"), col("n_tokens"), col("n_distinct_tokens"),
        col("n_hapax"),
        expr("CAST((1000000 * n_distinct_tokens) DIV n_tokens AS BIGINT)")
          .as("ttr_ppm"))
      .orderBy("quarter")
  }

  /** q198: the growth curve over `documents`. */
  val q198VocabGrowth: QuerySpec = QuerySpec(
    "q198_vocab_growth",
    """WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
      |q AS (SELECT unnest([1, 2, 3, 4]) AS quarter),
      |thr AS (SELECT quarter, ((max_id + 1) * quarter) // 4 AS threshold
      |        FROM q CROSS JOIN mx),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |        FROM documents),
      |cnt AS (SELECT t.quarter, token, count(*) AS n
      |        FROM tok JOIN thr t ON tok.doc_id < t.threshold
      |        GROUP BY 1, 2)
      |SELECT quarter,
      |  CAST(sum(n) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_distinct_tokens,
      |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  CAST((1000000 * count(*)) // CAST(sum(n) AS BIGINT) AS BIGINT)
      |    AS ttr_ppm
      |FROM cnt GROUP BY quarter ORDER BY quarter""".stripMargin) { (s, dir) =>
    vocabGrowth(Tables.documents(s, dir))
  }

  val all: Seq[QuerySpec] = Seq(
    q63FilterFunnel,
    q21TextStats, q22LangId, q23DocQuality, q24TokenCount, q25Fingerprint,
    q56VocabTopk, q67RepetitionFilter, q68TfidfTerms, q72DataCard,
    q95BpeMerges, q96BpeEncode, q108TokenizerFertility,
    q116SourceQualityQuantiles, q119CmsHeavyHitters, q121Bm25Search,
    q124SourceNovelty, q184SourceVocabOverlap, q188SourceWeightedOverlap,
    q191VocabCoverage, q198VocabGrowth)
}
