package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: regex over query names for fast local iteration
    // (the driver always calls with two args = full dump)
    val nameFilter = args.lift(2).map(_.r)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // one session builder for the whole codebase: dumps must run under the
    // same planner configuration (AQE, broadcast threshold, UTC, codec) as
    // the benched plans
    val spark = graft.core.Sessions.local(cpus, appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      // delete the PREVIOUS run's dump BEFORE running: a query that fails
      // during analysis (before overwrite clears the dir) would otherwise
      // leave a stale dump for the checker to greenwash as PASS — a
      // missing dir is an honest missing_dump FAIL
      new scala.reflect.io.Directory(new java.io.File(s"$outDir/$name")).deleteRecursively()
      try graft.core.Caching.scoped(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape (shared graft.core.Json): backslash, quote, and
    // ALL control chars — a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness.
    def q(s: String): String = graft.core.Json.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
