package graft

import graft.pipeline.Clean
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Plain-composition reference forms of the engine's keyed operators. The
  * differential specs check each production operator row-for-row against
  * these; none of them is meant to be fast. */
object References {

  /** Keep-first per key as `min(struct(tiebreak…, rest…))`: Spark's struct
    * ordering compares field by field with nulls smallest, i.e.
    * `ASC NULLS FIRST`, so the minimum is the first row under the same
    * total order [[Clean.dedupKeepFirst]] sorts by. Its map-side partial
    * aggregate collapses duplicates before the exchange, which PlansSpec's
    * regime-dial case measures against the native operator. */
  def keepFirstAgg(df: DataFrame, key: String = "order_id",
      orderCols: Seq[String] = Clean.KeepFirstTiebreak): DataFrame = {
    val cols = df.columns.toSeq
    if (!cols.contains(key)) df
    else {
      val tiebreak = orderCols.filter(cols.contains)
      val rest = cols.filterNot(c => c == key || tiebreak.contains(c))
      if (tiebreak.isEmpty && rest.isEmpty) df.dropDuplicates(key)
      else {
        val packed = struct((tiebreak ++ rest).map(col): _*)
        df.groupBy(col(key)).agg(min(packed).as("__row"))
          .select(cols.map(c =>
            if (c == key) col(c) else col(s"__row.$c").as(c)): _*)
      }
    }
  }

  /** Keep-latest per key as `max(struct(orderCol, __gen, rest…))`: struct
    * fields compare with nulls smallest, so the maximum is the first row
    * under `(orderCol, __gen, rest…) DESC NULLS LAST` — latest arrival,
    * then the higher generation (`__gen`, incoming over stored), then the
    * remaining columns. The `__gen` column is dropped from the result.
    * Pins [[graft.pipeline.Store]]'s keep-latest merge. */
  def keepLatestAgg(df: DataFrame, key: String = "order_id",
      orderCol: String = "ingested_at"): DataFrame = {
    val outCols = df.columns.toSeq.filterNot(_ == "__gen")
    val ordCols = Seq(orderCol, "__gen").filter(df.columns.contains)
    val rest = outCols.filterNot(c => c == key || ordCols.contains(c))
    if (ordCols.isEmpty && rest.isEmpty) df.dropDuplicates(key)
    else {
      val packed = struct((ordCols ++ rest).map(col): _*)
      df.groupBy(col(key)).agg(max(packed).as("__row"))
        .select(outCols.map(c =>
          if (c == key) col(c) else col(s"__row.$c").as(c)): _*)
    }
  }

  /** As-of join by brute force, with the signature of
    * [[graft.operators.AsOfJoin.asof]]: a left-outer equi-join on `key`
    * with `right.rightTime <= left.leftTime`, then per left row the one
    * candidate with the greatest `(rightTime, tiebreak)`. Materializes
    * every candidate pair, so it is for small test frames only. SQL null
    * semantics keep null keys and times from matching. */
  def asof(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      valueCols: Map[String, String], tiebreak: String): DataFrame = {
    val pairs = valueCols.toSeq
    val l = left.withColumn("__lid", monotonically_increasing_id())
    val r = right.select(Seq(col(key).as("__rk"), col(rightTime).as("__rt"),
      col(tiebreak).as("__rtb")) ++
      pairs.map { case (in, out) => col(in).as(out) }: _*)
    val byRecency = Window.partitionBy("__lid")
      .orderBy(col("__rt").desc, col("__rtb").desc)
    l.join(r, col(key) === col("__rk") && col("__rt") <= col(leftTime),
        "left_outer")
      .withColumn("__rn", row_number().over(byRecency))
      .filter(col("__rn") === 1)
      .select((left.columns.toSeq ++ pairs.map(_._2)).map(col): _*)
  }

  /** Batch admission derived from the corpus TEXT on every call, with
    * the signature of [[graft.ext.Dedup.admitBatch]] but a text corpus
    * (doc_id, text) in place of its index: fingerprints and shingles are
    * re-derived from both sides, the batch probes the corpus through
    * broadcast hash joins, and the in-batch keeper is a window. Null
    * fingerprints match null fingerprints (null text is one content),
    * within the batch and against the corpus. The differential for the
    * index probe: decisions must agree row for row. */
  def admitBatchText(corpus: DataFrame, batch: DataFrame,
      minJaccard: Double): DataFrame = {
    import graft.ext.Dedup.shingleRows
    val batchFp = batch.select(col("doc_id"), md5(col("text")).as("fingerprint"))
      .withColumn("batch_keeper",
        min(col("doc_id")).over(Window.partitionBy("fingerprint")))
    val bfps = batchFp.select(col("fingerprint").as("b_fp")).distinct()
    val corpusHits = corpus.select(md5(col("text")).as("c_fp"))
      .join(broadcast(bfps), col("c_fp") <=> col("b_fp"))
      .select(col("b_fp")).distinct().withColumn("corpus_hit", lit(1))
    val exact = batchFp
      .join(broadcast(corpusHits), col("fingerprint") <=> col("b_fp"), "left")
      .withColumn("exact_hit",
        when(col("corpus_hit").isNotNull
          || col("doc_id") =!= col("batch_keeper"), lit(1)))
    val bsh = shingleRows(batch)
    val csh = shingleRows(corpus)
    val bsizes = bsh.groupBy("doc_id").agg(count(lit(1)).as("n_b"))
    val csizes = csh.groupBy("doc_id").agg(count(lit(1)).as("n_c"))
    val common = csh.toDF("c_doc", "shingle")
      .join(broadcast(bsh.toDF("b_doc", "shingle")), "shingle")
      .groupBy("b_doc", "c_doc").agg(count(lit(1)).as("n_common"))
    val near = common
      .join(broadcast(bsizes.toDF("b_doc", "n_b")), "b_doc")
      .join(broadcast(csizes.toDF("c_doc", "n_c")), "c_doc")
      .filter(col("n_common").cast("double")
        / (col("n_b") + col("n_c") - col("n_common")) >= minJaccard)
      .groupBy(col("b_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_neardup"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("exact_hit").isNotNull.as("is_exact_dup"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"),
        when(col("exact_hit").isNotNull, "reject_exact")
          .when(coalesce(col("n_neardup"), lit(0L)) > 0, "reject_neardup")
          .otherwise("admit").as("decision"))
  }
}
