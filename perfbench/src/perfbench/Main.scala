package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.CpuControl

/** One benchmark run: `--workload NAME --seed N --seconds S --trace 0|1
  * --budget B [--smoke]`, started from the repository root by
  * perfbench/run.py. Prints a diagnostics line and, last, the result JSON;
  * exits 1 when a correctness check failed. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, budgetS: Double, smoke: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = args.toSeq.sliding(2).collect {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.get("trace").contains("1"), kv.getOrElse("budget", "150").toDouble,
      args.contains("--smoke"))
  }

  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val dir = Paths.get(".bench_build", "perfbench", "run",
      s"${o.workload}-${o.seed}-${ProcessHandle.current.pid}")
      .toAbsolutePath.toString
    Files.createDirectories(Paths.get(dir))
    // as graft.RunDedupe sets them: one task slot and one shuffle
    // partition per core
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try {
        // outcomes to repeat are kept per build (see Ctx.repeats)
        val classes = Paths.get(getClass.getProtectionDomain.getCodeSource
          .getLocation.toURI)
        val state = classes.resolveSibling("outcomes-" + classes.getFileName)
          .resolve(o.workload + (if (o.smoke) "-smoke" else "")).toString
        val ctx = new Ctx(spark, dir, o.seed, o.smoke, cores, state)
        val (lines, ok) = new Runner(ctx, o, started).run()
        lines.foreach(println)
        if (ok) 0 else 1
      } finally {
        spark.stop()
        Dirs.delete(dir)
      }
    System.out.flush()
    sys.exit(code)
  }
}

final class Runner(ctx: Ctx, o: Main.Opts, started: Long) {
  private def elapsedS = (System.nanoTime() - started) / 1e9

  private def loadavg1m: Double =
    Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble

  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat */
  private def procStat: (Long, Long) = {
    val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def run(): (Seq[String], Boolean) = {
    val w = Workload(o.workload, ctx)
    val load = loadavg1m
    val ctrlBefore = CpuControl.measure(ctx.cores)
    val setupS = Clock.timed(w.setup())._2

    val samples = ArrayBuffer.empty[Sample]
    val layerRows = ArrayBuffer.empty[Map[String, Double]]
    val traces = ArrayBuffer.empty[Trace]
    var attempted, failed = 0
    var failure: Option[String] = None
    val (steal0, total0) = procStat
    var lastS = 0.0
    var i = 0
    def enough = samples.nonEmpty && samples.map(_.wallS).sum >= o.seconds
    // the first iteration always runs; later ones only if one more fits,
    // with a reserve for the closing CPU control and session stop
    while (failure.isEmpty && !enough &&
           (attempted == 0 || elapsedS + lastS + 8 < o.budgetS)) {
      val trace = if (o.trace) Some(new Trace(ctx.spark.sparkContext)) else None
      val t0 = System.nanoTime()
      attempted += 1
      try {
        trace.foreach(_.install())
        val s = try w.iteration(i, trace) finally trace.foreach(_.uninstall())
        samples += s
        trace.foreach { t =>
          layerRows += Layers.of(t, i, ctx.cores, s.layers)
          traces += t
        }
      } catch {
        case c: CheckFailed => failure = Some(c.getMessage)
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"perfbench: iteration $i failed: $e")
          if (failed > attempted / 2) failure = Some(s"iterations fail: $e")
      }
      lastS = (System.nanoTime() - t0) / 1e9
      i += 1
    }
    val (steal1, total1) = procStat
    if (traces.nonEmpty) writeSpans(traces.toSeq)
    val ctrlAfter = CpuControl.measure(ctx.cores)
    if (failure.isEmpty && samples.isEmpty)
      failure = Some("no iteration fit in the time budget")
    val f1 = if (samples.isEmpty) 0.0 else samples.map(_.f1).min
    if (failure.isEmpty && f1 < 0.99) failure = Some(s"pairwise_f1 $f1 < 0.99")
    failure.foreach(m => System.err.println(s"perfbench: check failed: $m"))

    val calls = samples.flatMap(_.callsS)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", Clock.median(samples.map(_.wallS).toSeq), "s"),
        ("pairs_scored_per_s",
          samples.map(_.pairsScored).sum / math.max(samples.map(_.wallS).sum, 1e-9),
          "1/s"),
        ("batch_p50_s", Clock.median(calls.toSeq), "s"),
        ("pairwise_f1", f1, "ratio"),
        ("cpu_s", Clock.median(samples.map(_.cpuS).toSeq), "s"))
      else Layers.metrics.map { case (name, unit) =>
        val v = if (name == Layers.HeapPeak) samples.map(_.heapMb).maxOption.getOrElse(0.0)
          else Clock.median(layerRows.map(_.getOrElse(name, 0.0)).toSeq)
        (name, v, unit)
      }
    val dSteal = steal1 - steal0
    val dTotal = math.max(total1 - total0, 1L)
    val diagnostics =
      s"""{"diagnostics":{"workload":"${o.workload}","seed":${o.seed},""" +
        s""""trace":${o.trace},"cores":${ctx.cores},""" +
        s""""iterations":${samples.size},""" +
        s""""wall_s":${Clock.median(samples.map(_.wallS).toSeq)},""" +
        s""""walls_s":${samples.map(_.wallS).mkString("[", ",", "]")},""" +
        s""""cpus_s":${samples.map(_.cpuS).mkString("[", ",", "]")},""" +
        s""""setup_s":$setupS,""" +
        s""""cpu_control_before":$ctrlBefore,"cpu_control_after":$ctrlAfter,""" +
        s""""cpu_steal_pct":${100.0 * dSteal / dTotal},""" +
        s""""loadavg_1m":$load,"loadavg_1m_end":$loadavg1m,""" +
        s""""heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
        s""""elapsed_s":$elapsedS}}"""
    val body = metrics.map { case (n, v, u) =>
      s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
    val ok = failure.isEmpty
    val result = s"""{"correct":$ok,"attempted":${math.max(attempted, 1)},""" +
      s""""failed":$failed,"metrics":{$body}}"""
    (Seq(diagnostics, result), ok)
  }

  /** Spans stay in memory during the run and are written once, at its
    * end, to .bench_build/perfbench/trace/<workload>-seed<n>.json. */
  private def writeSpans(traces: Seq[Trace]): Unit = {
    val dir = Paths.get(".bench_build", "perfbench", "trace")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(s"${o.workload}-seed${o.seed}.json"),
      traces.map(_.toJson).mkString("[", ",\n", "]"))
  }
}
