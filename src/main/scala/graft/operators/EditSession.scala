package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** An interactive edit/QC session over one (or many) series — the
  * reference's per-series in-memory SQLite copy plus its sequential
  * edit loop (reference: EditService.__init__ materializing
  * `:memory:` SQLite, src/GAMUTRawData/odmservices/edit_service.py:
  * 32-48; rollback :371-373; save :375-442).
  *
  * Spark shape (SURVEY.md §3.3): the working copy is a CACHED DataFrame
  * (S4); every edit is a pure transformation producing a new session
  * state; rollback (M6) is simply retaining the parent state — lineage
  * is the undo log. Nothing is written until an explicit sink call
  * (M7: a Spark write is atomic per output). Unlike the reference this
  * holds ALL series at once: [[EditSession.open]] persists the source
  * frame as given (no repartitioning), so the session spans whatever
  * partitions the source has instead of one Python process per series.
  */
final class EditSession private (val df: DataFrame,
    parent: Option[EditSession]) {

  /** Apply one edit step; the result remembers this state for undo. */
  def edit(f: DataFrame => DataFrame): EditSession =
    new EditSession(f(df), Some(this))

  /** P8-P11 — refine the boolean selection column. The predicate is
    * coalesced to FALSE (same contract as RecordLog.refine): a NULL
    * measurement makes `value < x` three-valued NULL, and a NULL
    * stored in the selection later inverts to NULL in a
    * delete-selected `filter(!sel)` — which drops rows the user never
    * selected. Selection semantics are boolean: unknown = not selected.
    */
  def select(selCol: String, pred: Column, intersect: Boolean): EditSession = {
    val p = coalesce(pred, lit(false))
    // the EXISTING column coalesces too: open() takes any frame, so a
    // caller-supplied selection column can already hold NULLs — and
    // NULL && TRUE = NULL would store exactly the three-valued value
    // this method's contract exists to keep out
    edit(d => d.withColumn(selCol,
      if (intersect) coalesce(col(selCol), lit(false)) && p else p))
  }

  /** M6 — rollback to the previous state (no-op at the root). */
  def rollback: EditSession = parent.getOrElse(this)

  /** M6 — rollback the whole session. */
  def rollbackAll: EditSession = parent.map(_.rollbackAll).getOrElse(this)

  /** Undo depth (number of edits since materialization). */
  def depth: Int = parent.map(_.depth + 1).getOrElse(0)

  /** Release the cached base copy when the session ends. */
  def close(): Unit = rollbackAll.df.unpersist()
}

object EditSession {
  /** S4 — materialize the working copy once; edits derive from it. */
  def open(source: DataFrame): EditSession =
    new EditSession(source.persist(StorageLevel.MEMORY_AND_DISK), None)
}

/** An [[EditSession]] that also records every action as provenance —
  * the reference's RecordService wrapping of EditService (reference:
  * record_service.py:14-101). `script` serializes the history;
  * `RecordLog.replay` of that script over the original base frame
  * reproduces `df` exactly. Undo pops both the frame state AND the log
  * (the recorded script always describes the current state).
  */
final class RecordedSession private (val session: EditSession,
    val shape: RecordLog.Shape, val history: Vector[RecordLog.EditAction]) {

  def df: DataFrame = session.df

  def apply(action: RecordLog.EditAction): RecordedSession =
    new RecordedSession(session.edit(action(shape, _)), shape,
      history :+ action)

  /** M6 — rollback one step, dropping the matching provenance line. */
  def rollback: RecordedSession =
    new RecordedSession(session.rollback, shape, history.dropRight(1))

  /** The replayable provenance script. */
  def script: String = RecordLog.serialize(shape, history)
}

object RecordedSession {
  /** Open a recorded session: the working copy is cached and the
    * selection column initialized false (nothing selected).
    */
  def open(source: DataFrame, shape: RecordLog.Shape): RecordedSession =
    new RecordedSession(
      EditSession.open(source.withColumn(shape.selected,
        org.apache.spark.sql.functions.lit(false))),
      shape, Vector.empty)
}
