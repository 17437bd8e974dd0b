package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters, fed by a listener pair the benchmark
  * registers itself. Scan and write sizes come from the physical plan's SQL
  * metrics: task input metrics read 0 bytes for parquet scans.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  val jobs, stages, runTimeMs, shuffleBytes, scanFiles, scanBytes, outFiles, outBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      runTimeMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = walk(qe.executedPlan)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  private def walk(p: SparkPlan): Unit = {
    p match {
      case s: FileSourceScanExec =>
        scanFiles.addAndGet(metric(s, "numFiles")); scanBytes.addAndGet(metric(s, "filesSize"))
      case w: DataWritingCommandExec =>
        outFiles.addAndGet(metric(w, "numFiles")); outBytes.addAndGet(metric(w, "numOutputBytes"))
      case _ =>
    }
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case c: CommandResultExec     => walk(c.commandPhysicalPlan)
      case _: ReusedExchangeExec    => () // its subtree is counted where it first ran
      case _                        => p.children.foreach(walk)
    }
    p.subqueries.foreach(walk)
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "run_ms" -> runTimeMs.get, "shuffle_bytes" -> shuffleBytes.get,
    "scan_files" -> scanFiles.get, "scan_bytes" -> scanBytes.get, "out_files" -> outFiles.get, "out_bytes" -> outBytes.get)
}

/** A closed span: name, interval, parent span (-1 for a root) and op id. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long, counters: Map[String, Double])

/** Span recorder. Spans are kept in memory and written out at exit; the
  * counters of a span are the [[Counters]] deltas across its interval,
  * sampled after draining the listener bus so that late events land in the
  * span that caused them. A disabled tracer runs bodies untouched.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, cores: Int) {
  private val counters = new Counters
  if (enabled) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
  }
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  /** Whether the current op records spans (ops alternate when measuring overhead). */
  var active = true
  var op = -1

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      drain()
      val c0 = counters.snapshot
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        drain()
        val t1 = System.nanoTime()
        stack.pop()
        val c1 = counters.snapshot
        val d = c1.map { case (k, v) => k -> (v - c0(k)).toDouble }
        val wallS = (t1 - t0) / 1e9
        val util = if (wallS > 0) d("run_ms") / 1000.0 / (wallS * cores) else 0.0
        spans += Span(id, name, parent, op, t0, t1, (d - "run_ms") + ("util" -> util))
      }
    }

  /** Attach extra counters to the most recent span with `name`. */
  def annotate(name: String, extra: Map[String, Double]): Unit =
    if (enabled && active) spans.lastIndexWhere(_.name == name) match {
      case -1 => ()
      case i  => spans(i) = spans(i).copy(counters = spans(i).counters ++ extra)
    }
}
