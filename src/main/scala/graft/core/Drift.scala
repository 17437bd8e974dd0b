package graft.core

/** Schema-drift alerting (reference: ingestion.py:99-122 — a drifted report
  * still lands, but the run is flagged `Completedwitherrors` and a
  * notification carries the column diff so owners can react before
  * downstream consumers break).
  *
  * The engine's drift HANDLING is self-healing ([[graft.operators.Flatten
  * .reconcileSchema]]: missing -> null, new -> appended;
  * `VersionedTable.read`'s folded commit-log schema on the warehouse
  * side); this module is
  * the missing OBSERVABILITY half: a pluggable notifier that surfaces the
  * diff at the moment drift is absorbed, instead of burying it in a
  * silently-widened registry.
  */
object Drift {

  /** One drift occurrence: which source drifted and how. Either list may be
    * empty; an event is only emitted when at least one is non-empty.
    */
  final case class DriftEvent(
      source: String,
      newColumns: Seq[String],
      missingColumns: Seq[String]
  ) {
    /** The reference's run-status analogue: drifted runs complete, flagged. */
    def status: String = "CompletedWithDrift"
  }

  /** Notification sink. Implementations must be cheap and non-throwing —
    * a drift alert must never fail the load that absorbed the drift (the
    * reference still lands the data and loads what aligns).
    */
  trait Notifier {
    def notify(event: DriftEvent): Unit
  }

  /** Default: drop events (callers that don't care don't pay). */
  val noop: Notifier = _ => ()

  /** Log to the JVM logger — the minimal production hook. */
  val logging: Notifier = { e =>
    org.slf4j.LoggerFactory
      .getLogger("graft.drift")
      .warn(s"schema drift on '${e.source}': new=[${e.newColumns.mkString(",")}] missing=[${e.missingColumns.mkString(",")}] status=${e.status}")
  }

  /** In-process collector — for tests and same-JVM audit trails. */
  final class Collecting extends Notifier {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[DriftEvent]
    override def notify(event: DriftEvent): Unit = buf.synchronized { buf += event }
    def events: Seq[DriftEvent] = buf.synchronized(buf.toList)
  }

  /** Emit iff there IS drift; never throws (a broken alert channel must not
    * fail the run — mirror of the reference swallowing SNS errors).
    */
  def emit(notifier: Notifier, source: String, newColumns: Seq[String], missingColumns: Seq[String]): Unit =
    if (newColumns.nonEmpty || missingColumns.nonEmpty) {
      try notifier.notify(DriftEvent(source, newColumns, missingColumns))
      catch { case scala.util.control.NonFatal(_) => () }
    }
}
