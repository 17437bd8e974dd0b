package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed op: its interval, whether it ran traced, and how it failed. */
final case class OpRec(id: Int, name: String, startNs: Long, endNs: Long, traced: Boolean, rows: Long, error: Option[String])

/** A workload is a setup that can be repeated from scratch, then a closed
  * loop of ops driven by one client thread.
  */
trait Workload {
  /** Build everything the timed ops need under `dir`, from scratch. */
  def setup(dir: Path): Unit
  /** Untimed work before op `i` (e.g. generating and landing a day). */
  def prepare(i: Int): Unit = ()
  /** The timed op; returns its name and the input rows it landed. */
  def execute(i: Int): (String, Long)
  /** Per-op output check, untimed; returns failures. */
  def verify(i: Int): Seq[String] = Nil
  /** End-of-run checks and gauges, untimed. */
  def finish(): Unit
  /** Read-only ops can run twice (traced and untraced) to measure overhead. */
  def readOnly: Boolean = false
  /** False while a pass is under way: a run measures whole passes, so
    * every run times the same set of ops whatever the host's speed.
    */
  def atPassEnd: Boolean = true
}

/** Shared state of one benchmark run, filled by the workload and written
  * as JSON at exit for `run.py` to reduce into metrics.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long, val cores: Int, val dataDir: String) {
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val gauges = mutable.LinkedHashMap.empty[String, Double]
  val sizes = mutable.LinkedHashMap.empty[String, Double]
  val params = mutable.LinkedHashMap.empty[String, String]
  /** Per-op gauge samples (e.g. cache entries after each op). */
  val opGauges = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))
  def sample(name: String, v: Double): Unit = opGauges.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
}

object Main {
  /** Setup repetitions per run; `setup_s` takes their median. */
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    opts.get("mode") match {
      case Some("selftest") => sys.exit(SelfTest.run(Paths.get(opt("work")), opt("data")))
      case _ =>
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val out = Paths.get(opt("out"))
    val cores = opt("cores").toInt

    val load0 = Load.sample()
    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.local(cores, "graft-perfbench")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, trace, cores)
    val ctx = new Ctx(spark, tracer, seed, cores, opts.getOrElse("data", ""))
    val wl: Workload = workload match {
      case "etl_daily"     => new EtlDaily(ctx)
      case "analyst_mix"   => new AnalystMix(ctx, opts.get("cut-fingerprints").map(Paths.get(_)))
      case "stream_ingest" => new StreamIngest(ctx)
      case other           => sys.error(s"unknown workload $other")
    }

    // setup, repeated from scratch; the last repetition's state is timed
    tracer.active = false
    val setupTimes = (0 until SetupReps).map { r =>
      val dir = work.resolve(s"setup$r")
      val s0 = System.nanoTime()
      wl.setup(dir)
      (System.nanoTime() - s0) / 1e9
    }

    // timed phase: closed loop, one client, until `seconds` have elapsed
    // and the current pass (if the workload has passes) is complete
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    def timedOp(i: Int, traced: Boolean): OpRec = {
      tracer.op = i
      tracer.active = traced
      val s = System.nanoTime()
      val (res, err) =
        try (Some(tracer.span("op")(wl.execute(i))), None)
        catch { case e: Throwable => (None, Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")) }
      val e = System.nanoTime()
      tracer.active = false
      val fails = if (err.isEmpty) wl.verify(i) else Nil
      OpRec(i, res.map(_._1).getOrElse("op"), s, e, traced && tracer.enabled, res.map(_._2).getOrElse(0L),
        err.orElse(if (fails.nonEmpty) Some("check: " + fails.mkString("; ")) else None))
    }
    // a traced run of a workload that changes state runs its ops untraced,
    // traced, traced, untraced (and so on), at least those four: a linear
    // warm-up trend then cancels out of the overhead ratio
    def tracedOp(i: Int) = i % 4 == 1 || i % 4 == 2
    while (System.nanoTime() < deadline || !wl.atPassEnd || (trace && !wl.readOnly && i < 4)) {
      wl.prepare(i)
      if (trace && wl.readOnly) {
        // a read-only op runs traced and untraced, in alternating order:
        // the pair gives the tracing overhead as a ratio
        val first = i % 2 == 0
        ops += timedOp(i, first)
        ops += timedOp(i, !first)
      } else ops += timedOp(i, tracedOp(i))
      ctx.sample("core.cache_entries_after_op", graft.core.Caching.registrySize.toDouble)
      ctx.sample("core.storage_mem_after_op_mb",
        spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
      i += 1
    }
    wl.finish()
    val load1 = Load.sample()
    writeResults(out, workload, seed, cores, trace, sessionStart, setupTimes, ops.toSeq, ctx, load0, load1)
    spark.stop()
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String = graft.core.Json.str(s)

  private def writeResults(
      out: Path, workload: String, seed: Long, cores: Int, trace: Boolean, sessionStart: Double,
      setupTimes: Seq[Double], ops: Seq[OpRec], ctx: Ctx, load0: Load, load1: Load): Unit = {
    val sb = new StringBuilder("{")
    sb.append(s""""workload":${str(workload)},"seed":$seed,"cores":$cores,"trace":$trace,""")
    sb.append(s""""session_start_s":${num(sessionStart)},"setup_reps_s":${setupTimes.map(num).mkString("[", ",", "]")},""")
    sb.append(""""ops":""").append(ops.map { o =>
      s"""{"id":${o.id},"name":${str(o.name)},"start_ns":${o.startNs},"end_ns":${o.endNs},"traced":${o.traced},"rows":${o.rows},"error":${o.error.map(str).getOrElse("null")}}"""
    }.mkString("[", ",", "]")).append(",")
    sb.append(""""spans":""").append(ctx.tracer.spans.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"name":${str(s.name)},"parent":${s.parent},"op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs},"counters":$cs}"""
    }.mkString("[", ",", "]")).append(",")
    def obj(m: collection.Map[String, Double]): String = m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    sb.append(s""""gauges":${obj(ctx.gauges)},"sizes":${obj(ctx.sizes)},""")
    sb.append(""""op_gauges":""").append(ctx.opGauges.map { case (k, vs) => s"${str(k)}:${vs.map(num).mkString("[", ",", "]")}" }.mkString("{", ",", "}")).append(",")
    sb.append(""""params":""").append(ctx.params.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")).append(",")
    sb.append(""""checks":""").append(ctx.checks.map { case (n, ok, d) => s"""{"name":${str(n)},"ok":$ok,"detail":${str(d)}}""" }.mkString("[", ",", "]")).append(",")
    sb.append(s""""peak_rss_mb":${num(Load.peakRssMb())},""")
    sb.append(s""""load":{"loadavg_1m_start":${num(load0.loadAvg)},"loadavg_1m_end":${num(load1.loadAvg)},"other_cpu_share":${num(Load.otherShare(load0, load1))},"steal_share":${num(Load.stealShare(load0, load1))}}""")
    sb.append("}\n")
    Files.createDirectories(out.getParent)
    Files.writeString(out, sb.toString)
  }
}

/** Host load signals, read from the same /proc sources as `graft.Bench`,
  * plus the hypervisor's steal time: on a shared VM that is the CPU other
  * tenants took, which no process inside the VM shows.
  */
final case class Load(loadAvg: Double, sysBusy: Long, sysTotal: Long, steal: Long, self: Long)

object Load {
  def sample(): Load = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    val s = Files.readString(Paths.get("/proc/self/stat"))
    val after = s.substring(s.lastIndexOf(')') + 2).split(" ")
    Load(
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      f(0) + f(1) + f(2), f.take(8).sum, f(7), after(11).toLong + after(12).toLong)
  }

  /** Share of all CPU capacity over the run that went to other processes. */
  def otherShare(a: Load, b: Load): Double = {
    val total = (b.sysTotal - a.sysTotal).toDouble
    if (total <= 0) 0.0 else math.max(0.0, ((b.sysBusy - a.sysBusy) - (b.self - a.self)) / total)
  }

  /** Share of all CPU capacity over the run that the hypervisor stole. */
  def stealShare(a: Load, b: Load): Double = {
    val total = (b.sysTotal - a.sysTotal).toDouble
    if (total <= 0) 0.0 else (b.steal - a.steal) / total
  }

  /** JVM high-water RSS (VmHWM). */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally w.close()
    }
}
