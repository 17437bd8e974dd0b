package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Which record a declared query is timed in. `Headline` queries make up
  * Bench's `total` (a set held fixed so totals compare across records),
  * `Extra` queries are timed but kept out of `total`, and `VerifyOnly`
  * queries are oracle-checked but never timed.
  */
sealed trait Tier
object Tier {
  case object Headline extends Tier
  case object Extra extends Tier
  case object VerifyOnly extends Tier
}

/** A named one-time build that staged queries share: a stored index, a
  * warehouse, a landed fixture. Bench builds each setup it needs once,
  * timed under `key` in `setup_sec`; a full run of a staged query (what
  * Verify and the driver call) builds it afresh. A setup declared `on`
  * a base builds on that base's value, so the base is built first.
  */
final class Setup[A] private (
    val key: String,
    val base: Option[Setup[_]],
    make: (SparkSession, String, Any) => A) {

  /** Builds this setup from its base's already-built value (ignored
    * when there is no base). */
  def build(s: SparkSession, dir: String, baseValue: Any): A = make(s, dir, baseValue)

  /** Builds the base chain, then this setup. */
  def buildAll(s: SparkSession, dir: String): A =
    make(s, dir, base.map(_.buildAll(s, dir)).orNull)
}

object Setup {
  def apply[A](key: String)(build: (SparkSession, String) => A): Setup[A] =
    new Setup(key, None, (s, dir, _) => build(s, dir))

  def on[B, A](key: String, base: Setup[B])(build: (SparkSession, B) => A): Setup[A] =
    new Setup(key, Some(base), (s, _, b) => build(s, b.asInstanceOf[B]))
}

/** One declared query: its registry name (the oracle key), its bench
  * tier, and its body. A staged query is declared as a [[Setup]] plus a
  * `serve` half; its full body is always serve-after-build, so the query
  * Verify checks and the split Bench times cannot disagree.
  */
final class QuerySpec private (
    val name: String,
    val tier: Tier,
    val run: (SparkSession, String) => DataFrame,
    val staged: Option[QuerySpec.Staged[_]])

object QuerySpec {
  final class Staged[A](val setup: Setup[A], serve: (SparkSession, String, A) => DataFrame) {
    /** The serve half against a value `setup` already built. */
    def serveFrom(built: Any): (SparkSession, String) => DataFrame =
      (s, dir) => serve(s, dir, built.asInstanceOf[A])

    private[QuerySpec] def run(s: SparkSession, dir: String): DataFrame =
      serve(s, dir, setup.buildAll(s, dir))
  }

  def apply(name: String, tier: Tier, body: (SparkSession, String) => DataFrame): QuerySpec =
    new QuerySpec(name, tier, body, None)

  def staged[A](name: String, tier: Tier, setup: Setup[A])(
      serve: (SparkSession, String, A) => DataFrame): QuerySpec = {
    val st = new Staged(setup, serve)
    new QuerySpec(name, tier, st.run, Some(st))
  }
}
