package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Spark work in a time window: tasks that finished and jobs that
  * started in it. Times in seconds, sizes in MB. */
final case class Totals(jobs: Int, tasks: Int, taskS: Double, gcS: Double,
                        shuffleWriteMb: Double, spillMb: Double,
                        outputMb: Double, failures: Int)

/** A layer span: a call into one layer's public functions, timed by the
  * benchmark (or a stage window read from the program's `_lineage`). */
final case class Span(layer: String, iteration: Int, startMs: Long,
                      endMs: Long) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** The traced run's SparkListener. It is installed only around traced
  * iterations, keeps one small record per finished task and per started
  * job in memory, and buckets them into spans by time; spans run one
  * after another on the calling thread, so a window holds exactly the
  * work its call caused (plus whatever the program itself overlaps). */
final class Trace(sc: SparkContext) extends SparkListener {
  private final case class TaskRec(finishMs: Long, runMs: Long, gcMs: Long,
                                   shuffleWrite: Long, spill: Long,
                                   output: Long, failed: Boolean)
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val jobStarts = ArrayBuffer.empty[Long]
  private var callbackNs = 0L
  val spans = ArrayBuffer.empty[Span]

  /** Seconds the listener spent in its callbacks: the work tracing adds,
    * since the timed calls are otherwise the same as in an untraced run. */
  def overheadS: Double = synchronized(callbackNs / 1e9)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    val m = Option(e.taskMetrics)
    val rec = TaskRec(e.taskInfo.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L),
      m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      e.reason != Success)
    synchronized {
      tasks += rec
      callbackNs += System.nanoTime() - t0
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t0 = System.nanoTime()
    synchronized {
      jobStarts += e.time
      callbackNs += System.nanoTime() - t0
    }
  }

  def install(): Unit = sc.addSparkListener(this)

  /** Waits until the listener bus has delivered every event posted so
    * far, then detaches. The bus is not public API, hence reflection;
    * the wait is bounded. */
  def uninstall(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(30000L))
    sc.removeSparkListener(this)
  }

  def span[T](layer: String, iteration: Int)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally spans += Span(layer, iteration, t0, System.currentTimeMillis())
  }

  def window(startMs: Long, endMs: Long): Totals = synchronized {
    val ts = tasks.filter(t => t.finishMs >= startMs && t.finishMs < endMs)
    val mb = 1024.0 * 1024.0
    Totals(jobStarts.count(t => t >= startMs && t < endMs), ts.size,
      ts.map(_.runMs).sum / 1e3, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shuffleWrite).sum / mb, ts.map(_.spill).sum / mb,
      ts.map(_.output).sum / mb, ts.count(_.failed))
  }

  def toJson: String = spans.map(s =>
    s"""{"layer":"${s.layer}","iteration":${s.iteration},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    .mkString("[", ",\n", "]")
}

object Plans {
  /** Shuffle exchanges, sort-merge joins and broadcast hash joins in a
    * frame's physical plan, counted before it runs (AQE's initial plan),
    * so the counts do not depend on runtime statistics. */
  def counts(df: DataFrame): (Int, Int, Int) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    (all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(_.isInstanceOf[SortMergeJoinExec]),
      all.count(_.isInstanceOf[BroadcastHashJoinExec]))
  }
}
