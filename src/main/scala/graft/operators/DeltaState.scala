package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cumulative-counter -> per-run-increment conversion (SURVEY.md §2.6), the
  * reference's only genuinely stateful operator (transformation.py:78-241).
  *
  * The reference does two DynamoDB round-trips PER ROW
  * (transformation.py:407). Here the state store is a snapshot table joined
  * once per batch: `batch LEFT OUTER JOIN snapshot ON keys`, delta arithmetic
  * per counter, and the new snapshot is simply the batch's current counters.
  * One shuffle (or zero, if the snapshot is small enough to broadcast — it is
  * one row per live entity, so usually it is), versus 2N network calls.
  *
  * Semantics preserved exactly, including the reference's asymmetry:
  *  - snapshot row EXISTS  -> delta = current - previous
  *  - snapshot row MISSING -> the raw cumulative value passes through
  *  - `line_item_creative` null-coalesces CURRENT counters to 0 before
  *    subtracting (transformation.py:127-143); `line_item` does NOT
  *    (transformation.py:93-98). Callers opt in via `coalesceCurrent`.
  */
object DeltaState {

  /** @param counters        (currentCol -> snapshotCol) pairs; output column
    *                        `delta_<currentCol>` (or genericN via rename after)
    * @param coalesceCurrent when true, current counters null-coalesce to 0
    *                        (line_item_creative behavior); when false a null
    *                        current stays null in the delta (line_item
    *                        behavior)
    */
  def applyDeltas(
      batch: DataFrame,
      snapshot: DataFrame,
      keyCols: Seq[String],
      counters: Seq[(String, String)],
      coalesceCurrent: Boolean
  ): DataFrame = {
    counters.foreach { case (cur, prev) =>
      require(cur != prev, s"counter '$cur' must use a distinct snapshot column name (got '$prev')")
      require(!batch.columns.contains(prev), s"batch already has a column named '$prev' — the join would be ambiguous")
    }
    val snapCols = keyCols ++ counters.map(_._2)
    val snap = snapshot
      .select(snapCols.head, snapCols.tail: _*)
      .withColumn("__snap_exists", lit(true))
    // no broadcast hint: Catalyst auto-broadcasts a snapshot under the
    // threshold, and a forced broadcast of a 100M-entity state table would
    // OOM the executors
    val joined = batch.join(snap, keyCols, "left_outer")

    counters
      .foldLeft(joined) { case (df, (cur, prev)) =>
        val curC: Column = if (coalesceCurrent) coalesce(col(cur), lit(0L)) else col(cur)
        val prevC: Column = coalesce(col(prev), lit(0L))
        df.withColumn(
          s"delta_$cur",
          when(col("__snap_exists").isNotNull, curC - prevC).otherwise(curC)
        )
      }
      .drop(counters.map(_._2) :+ "__snap_exists": _*)
  }

  /** New snapshot after a batch: the batch's current counters, renamed to the
    * snapshot's column names, last-writer-wins per key within the batch
    * (the reference overwrites the DynamoDB item per row; here we keep the
    * max-by-timestamp row if a `tsCol` is present, else an arbitrary-but-
    * deterministic latest via max over all counters is avoided — callers
    * should pass a timestamp column for determinism).
    */
  def nextSnapshot(
      batch: DataFrame,
      keyCols: Seq[String],
      counters: Seq[(String, String)],
      tsCol: Option[String] = None
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = tsCol match {
      case Some(ts) =>
        val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(ts).desc)
        batch.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      case None => batch.dropDuplicates(keyCols)
    }
    base.select((keyCols.map(col) ++ counters.map { case (cur, prev) => col(cur).as(prev) }): _*)
  }
}
