package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Type-2 slowly-changing-dimension build: turn a change log (one row
  * per observed version of a key) into validity intervals — the
  * point-in-time dimension shape every warehouse keeps for "what was
  * this key's attribute AS OF date d" lookups (the probe side of
  * [[RangeJoin.pointInInterval]] or the as-of join).
  *
  * Intervals are HALF-OPEN `[valid_from, valid_to)`: `valid_to` is the
  * NEXT change's `valid_from` (so consecutive versions chain with no
  * gap and no overlap) and NULL marks the current version. Zero-length
  * intervals (two changes at the same order coordinate) are kept, not
  * merged — they record that a version existed and was immediately
  * superseded, and the tie-break column makes their order
  * deterministic.
  *
  * Scale shape: ONE exchange on the key columns + ONE sort feeding a
  * `lead` window — no self-join, no driver state. At 100 TB this is
  * the same plan as any keyed window; skewed keys are per-key version
  * chains, which are naturally bounded by the entity's change rate.
  */
object Scd2 {

  /** @param changes  change log; every column is carried through
    * @param keys     dimension key columns
    * @param orderCol version coordinate (date/timestamp/long)
    * @param tieBreak extra columns making same-coordinate changes
    *                 deterministic (e.g. a monotonic source id)
    * @return `changes` + `valid_from`, `valid_to` (null = open),
    *         `is_current` */
  def fromChangeLog(changes: DataFrame, keys: Seq[String],
      orderCol: String, tieBreak: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "scd2: at least one key column")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((orderCol +: tieBreak).map(col): _*)
    changes
      .withColumn("valid_from", col(orderCol))
      .withColumn("valid_to", lead(col(orderCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Incremental dimension maintenance: fold a batch of new changes
    * into an existing SCD2 dimension so that the result EQUALS
    * [[fromChangeLog]] over the union of all changes ever seen
    * (append ≡ rebuild — the repo's maintenance contract), without
    * touching unaffected keys.
    *
    * Mechanics: keys absent from the batch pass through untouched (an
    * anti-join — no window, no sort for them); for keys the batch DOES
    * touch, the original change rows are recovered from the dimension
    * (every log column was carried through the build), unioned with
    * the batch, de-duplicated on `(keys, orderCol, tieBreak)` — so
    * AT-LEAST-ONCE redelivery of a change row cannot mint a duplicate
    * version — and rebuilt per key. A late-arriving change lands in
    * order automatically: the per-key rebuild re-sorts, splitting
    * whichever interval it falls inside.
    *
    * Scale shape: shuffle work is proportional to the AFFECTED keys'
    * version chains + the batch, never the full dimension. */
  def applyChanges(dim: DataFrame, changes: DataFrame, keys: Seq[String],
      orderCol: String, tieBreak: Seq[String]): DataFrame = {
    val derived = Seq("valid_from", "valid_to", "is_current")
    require(derived.forall(dim.columns.contains),
      s"applyChanges: dim must be a fromChangeLog output (missing $derived)")
    require(derived.forall(c => !changes.columns.contains(c)),
      "applyChanges: changes must be raw log rows, not a built dimension")
    val affected = changes.select(keys.map(col): _*).distinct()
    val untouched = dim.join(affected, keys, "left_anti")
    val touchedLog = dim.join(affected, keys, "left_semi")
      .drop(derived: _*)
    val rebuilt = fromChangeLog(
      touchedLog.unionByName(changes)
        .dropDuplicates(keys ++ (orderCol +: tieBreak)),
      keys, orderCol, tieBreak)
    untouched.unionByName(rebuilt)
  }

  /** Persisted dimension maintenance, streaming-safe: fold a (micro-)
    * batch of change rows into the SCD2 dimension at `dir` through the
    * atomic-publish protocol (writer repairs a crashed previous swap;
    * readers serve the backup and never rename). First batch
    * bootstraps the dimension. [[applyChanges]]' change-row dedup makes
    * at-least-once redelivery a no-op, so a foreachBatch driver may
    * replay batches freely. Single writer by contract. */
  def appendToDim(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, keys: Seq[String], orderCol: String,
      tieBreak: Seq[String]): Unit = {
    val path = s"$dir/dim"
    graft.pipeline.Store.republish(spark, path, "scd2 append") {
      if (graft.pipeline.Store.resolvePublished(spark, path).isDefined)
        applyChanges(readDim(spark, dir), batch, keys, orderCol, tieBreak)
      else fromChangeLog(
        batch.dropDuplicates(keys ++ (orderCol +: tieBreak)),
        keys, orderCol, tieBreak)
    }
  }

  /** Read the persisted dimension (consumer path — never repairs). */
  def readDim(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.pipeline.Store.readRecoverableReadOnly(spark, s"$dir/dim",
      "scd2 read")
}
