package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.block.{Blocking, BoundScheme}

/** A correctness check failed: the run reports `correct: false` and
  * exits non-zero. */
final class CheckFailed(msg: String) extends Exception(msg)

/** One measured iteration. `callsS` are the client-visible latencies in
  * it: one per `Dedupe.run` or per ingest batch. `layers` holds the
  * workload's own per-layer counts (traced iterations only). */
final case class Sample(wallS: Double, cpuS: Double, callsS: Seq[Double],
                        pairsScored: Long, f1: Double, heapMb: Double,
                        layers: Map[String, Double] = Map.empty)

/** What every workload shares: the session, its scratch directory in the
  * checkout, the seed, and the repeat check. */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
                val smoke: Boolean, val cores: Int, val stateDir: String) {
  def path(name: String): String = s"$dir/$name"

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  /** Outputs must repeat between iterations, and between runs, on the same
    * seed and build: `exact` (pair counts, assignments) exactly, `approx` (a
    * score sum, whose double summation depends on row order) within a
    * relative tolerance. The first outcome per key is kept in `stateDir`,
    * so a later run on the seed in the same checkout, traced or not, is
    * checked against it. */
  def repeats(key: String, exact: String, approx: Double = 0.0): Unit = {
    val f = Paths.get(stateDir, s"$seed-$key")
    if (!Files.exists(f)) {
      Files.createDirectories(f.getParent)
      Files.writeString(f, s"$exact\n$approx")
    } else {
      val Array(e, a) = Files.readString(f).split("\n")
      check(e == exact, s"$key: $exact, an earlier iteration had $e")
      check(math.abs(a.toDouble - approx) <= 1e-9 * math.max(1.0, math.abs(approx)),
        s"$key: score_sum $approx, an earlier iteration had $a")
    }
  }

  /** Times `f` as one client call; in a traced iteration the call is also
    * a span, whose Spark work gives the spark.* totals. */
  def call[T](trace: Option[Trace], iteration: Int)(f: => T): (T, Double, Double) =
    Clock.timed(trace.fold(f)(_.span(Layers.Call, iteration)(f)))

  def layer[T](trace: Option[Trace], name: String, iteration: Int)(f: => T): T =
    trace.fold(f)(_.span(name, iteration)(f))

  /** Drops everything an iteration cached or checkpointed. */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
  }
}

object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** (result, wall seconds, process CPU seconds) */
  def timed[T](f: => T): (T, Double, Double) = {
    val c0 = cpuS
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9, cpuS - c0)
  }

  /** Old-generation occupancy right after a full collection: what the
    * iteration still holds live. Taken in traced runs only, since it
    * forces the collection. */
  def liveHeapMb(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = if (pools.nonEmpty) pools.map(_.getUsage.getUsed).sum
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    used / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Dirs {
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(Files.delete(_))
  }

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).forEach { p =>
      Files.copy(p, Paths.get(to).resolve(src.relativize(p).toString))
    }
  }

  /** Parquet part files under `dir`. */
  def partFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).filter(f => f.getFileName.toString.startsWith("part-"))
      .count()
  }
}

/** References the outputs are checked against. */
object Checks {
  /** Union-find over the collected edges: every node's component must be
    * the minimum id of its connected set. Nodes listed in `components`
    * that touch no edge must be their own component. */
  def components(edges: Seq[(String, String)],
                 components: Seq[(String, String)], ctx: Ctx): Unit = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      parent(x) = r
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val got = components.toMap
    ctx.check(got.size == components.size, "a node has more than one component")
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    ctx.check(nodes.forall(got.contains),
      "connected components lost a node of the edge set")
    for ((id, comp) <- got)
      ctx.check(find(id) == comp,
        s"component of $id is $comp, union-find says ${find(id)}")
  }

  def f1(predicted: Set[(String, String)], truth: Set[(String, String)]): Double = {
    val tp = predicted.count(truth.contains).toDouble
    if (tp == 0) 0.0 else 2 * tp / (predicted.size + truth.size)
  }

  /** Pairs a conjunction's blocks emit before de-duplication:
    * Σ C(n, 2) over the blocks of the public inverted index that survive
    * the size cap (n > 1 and n ≤ maxBlockSize). */
  def emittedPairs(records: DataFrame, conj: Seq[BoundScheme],
                   maxBlockSize: Int = Blocking.DefaultMaxBlockSize): Long = {
    val inv = Blocking.invertedIndex(records, conj)
    val sigs = inv.columns.filter(_.startsWith("sig_")).map(col).toSeq
    val n = col("count")
    val row = inv.groupBy(sigs: _*).count()
      .filter(n > 1 && n <= maxBlockSize)
      .agg(sum(n * (n - 1) / 2).cast("long")).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }
}
