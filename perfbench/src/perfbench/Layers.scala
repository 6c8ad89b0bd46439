package perfbench

/** The per-layer metrics of the traced run. Layers are the program's
  * modules: normalize (Normalize), learner (block.Learner), blocking
  * (block.Blocking), sim (sim.Distances + TfIdf), ml (ml.MatchClassifier),
  * cc (cluster.ConnectedComponents), io (io.TableIO) and attach
  * (pipeline.Incremental). A layer that a workload does not run reads 0. */
object Layers {
  /** Span name of a timed client call; its window gives the spark.*
    * totals. */
  val Call = "call"
  /** Seconds the traced run's listener spent in its callbacks
    * (Trace.overheadS). */
  val Overhead = "trace.overhead_s"
  /** The largest old-generation occupancy after the full GC that ends each
    * iteration (Clock.liveHeapMb). Per-layer, not end-to-end: it depends
    * on which cached blocks Spark has released by then, and varied 5x
    * between seeds. */
  val HeapPeak = "heap_live_peak_mb"

  val metrics: Seq[(String, String)] = Seq(
    "learner.wall_s" -> "s", "learner.jobs" -> "count",
    "learner.core_idle_frac" -> "ratio", "learner.shuffle_write_mb" -> "MB",
    "blocking.wall_s" -> "s", "blocking.emitted_pairs" -> "count",
    "blocking.candidate_pairs" -> "count", "blocking.useful_frac" -> "ratio",
    "blocking.exchanges" -> "count", "blocking.smj" -> "count",
    "blocking.bhj" -> "count", "blocking.shuffle_write_mb" -> "MB",
    "sim.wall_s" -> "s", "sim.pairs_per_task_s" -> "1/s",
    "sim.exchanges" -> "count", "sim.smj" -> "count", "sim.bhj" -> "count",
    "sim.shuffle_write_mb" -> "MB",
    "cc.wall_s" -> "s", "cc.supersteps" -> "count", "cc.jobs" -> "count",
    "cc.edges_in" -> "count", "cc.shuffle_write_mb" -> "MB",
    "normalize.wall_s" -> "s", "ml.wall_s" -> "s",
    "attach.wall_s" -> "s", "attach.jobs" -> "count",
    "attach.attached_frac" -> "ratio",
    "io.upsert_s" -> "s", "io.stage_write_mb" -> "MB",
    "io.files_written" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.spill_mb" -> "MB",
    "spark.task_failures" -> "count", "spark.unattributed_task_s" -> "s",
    HeapPeak -> "MB", Overhead -> "s")

  def blocking(emitted: Long, candidate: Long, exchanges: Int, smj: Int,
               bhj: Int): Map[String, Double] = Map(
    "blocking.emitted_pairs" -> emitted.toDouble,
    "blocking.candidate_pairs" -> candidate.toDouble,
    "blocking.useful_frac" ->
      (if (emitted == 0) 0.0 else candidate.toDouble / emitted),
    "blocking.exchanges" -> exchanges.toDouble,
    "blocking.smj" -> smj.toDouble, "blocking.bhj" -> bhj.toDouble)

  def sim(pairs: Long, plan: (Int, Int, Int)): Map[String, Double] = Map(
    "sim.pairs" -> pairs.toDouble, "sim.exchanges" -> plan._1.toDouble,
    "sim.smj" -> plan._2.toDouble, "sim.bhj" -> plan._3.toDouble)

  def cc(supersteps: Int, edgesIn: Long): Map[String, Double] = Map(
    "cc.supersteps" -> supersteps.toDouble, "cc.edges_in" -> edgesIn.toDouble)

  /** One traced iteration's per-layer metrics: span times and the Spark
    * work in their windows, plus the workload's own counts. */
  def of(t: Trace, i: Int, cores: Int,
         counts: Map[String, Double]): Map[String, Double] = {
    val spans = t.spans.filter(_.iteration == i).toSeq
    def totals(ss: Seq[Span]): Seq[Totals] = ss.map(s => t.window(s.startMs, s.endMs))
    val calls = spans.filter(_.layer == Call)
    val inCall = (s: Span) =>
      calls.exists(c => c.startMs <= s.startMs && s.endMs <= c.endMs)
    val out = scala.collection.mutable.Map.empty[String, Double] ++ counts
    var attributedTaskS = 0.0
    for ((layer, ss) <- spans.filter(_.layer != Call).groupBy(_.layer)) {
      val tot = totals(ss)
      val wall = ss.map(_.wallS).sum
      val taskS = tot.map(_.taskS).sum
      out(s"$layer.wall_s") = wall
      out(s"$layer.jobs") = tot.map(_.jobs).sum.toDouble
      out(s"$layer.shuffle_write_mb") = tot.map(_.shuffleWriteMb).sum
      out(s"$layer.task_s") = taskS
      attributedTaskS += totals(ss.filter(inCall)).map(_.taskS).sum
    }
    out("learner.core_idle_frac") = out.get("learner.wall_s")
      .filter(_ > 0).fold(0.0)(w => 1.0 - out("learner.task_s") / (w * cores))
    out("sim.pairs_per_task_s") = out.get("sim.task_s").filter(_ > 0)
      .fold(0.0)(s => out.getOrElse("sim.pairs", 0.0) / s)
    out("io.upsert_s") = out.getOrElse("io.wall_s", 0.0)
    val all = totals(calls)
    out("spark.jobs") = all.map(_.jobs).sum.toDouble
    out("spark.tasks") = all.map(_.tasks).sum.toDouble
    out("spark.task_s") = all.map(_.taskS).sum
    out("spark.gc_s") = all.map(_.gcS).sum
    out("spark.spill_mb") = all.map(_.spillMb).sum
    out("spark.task_failures") = all.map(_.failures).sum.toDouble
    out("spark.unattributed_task_s") = out("spark.task_s") - attributedTaskS
    out("io.stage_write_mb") = all.map(_.outputMb).sum
    out(Overhead) = t.overheadS
    out.toMap
  }
}
