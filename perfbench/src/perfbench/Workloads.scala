package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.block.{Blocking, BoundScheme, FindNgrams, FirstNChars, Labels, Schemes}
import graft.cluster.ConnectedComponents
import graft.io.TableIO
import graft.ml.MatchClassifier
import graft.normalize.Normalize
import graft.pipeline.{Dedupe, Incremental}
import graft.sim.Distances
import graft.synth.Transcripts

/** A workload builds its inputs from the seed in `setup` (timed as set-up
  * time, once per run) and then runs measured iterations.
  * Only the client calls inside an iteration are timed; checks run after
  * them. There is no warm-up: a spark-submit job runs the pipeline once, or
  * ingests its first batches, so JIT and codegen warm-up are part of what
  * a user waits for and are measured. */
abstract class Workload(val ctx: Ctx) {
  def setup(): Unit
  def iteration(i: Int, trace: Option[Trace]): Sample
  protected def spark = ctx.spark
}

object Workload {
  val Ngram6 = Seq(BoundScheme(FindNgrams(6), "head_text"))
  /** Rule-score threshold of predicted matches (the program's default). */
  val MatchThreshold = 0.8

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "dedupe_learned" => new DedupeLearned(ctx)
    case "block_score_cluster" => new BlockScoreCluster(ctx)
    case "ingest_batches" => new IngestBatches(ctx)
  }

  def scoreSum(scored: DataFrame): Double =
    scored.agg(sum(col("score"))).head().getDouble(0)

  def pairs(df: DataFrame, a: String = "id_l", b: String = "id_r"): Seq[(String, String)] =
    df.select(col(a), col(b)).collect().toSeq.map(r => (r.getString(0), r.getString(1)))
}
import Workload._

/** `Dedupe.run`, the production path: learned blocking conjunctions,
  * candidate pairs, features, classifier scores and clusters, each stage
  * committed through TableIO into a fresh workDir. The traced run takes
  * layer windows from the program's own `_lineage` table. */
final class DedupeLearned(ctx: Ctx) extends Workload(ctx) {
  private val Orders = if (ctx.smoke) 1500L else 3000L
  private val data = ctx.path("data")
  private val cfg = Dedupe.Config(seed = ctx.seed)
  private val stageLayer = Map("records" -> "normalize",
    "conjunctions" -> "learner", "pairs" -> "blocking",
    "features" -> "sim", "scores" -> "ml", "clusters" -> "cc")

  def setup(): Unit = Data.write(spark, data, Orders, ctx.seed)

  def iteration(i: Int, trace: Option[Trace]): Sample = {
    val work = ctx.path(s"work-$i")
    val (res, wall, cpu) = ctx.call(trace, i) {
      Dedupe.run(spark, data, cfg, workDir = Some(work))
    }
    val heap = trace.fold(0.0)(_ => Clock.liveHeapMb())
    val lineage = new TableIO(spark, work).lineage()
      .select("stage", "wall_ms", "committed_at").collect().toSeq
    val stages = lineage.map(_.getString(0))
    ctx.check(stages.sorted == stageLayer.keys.toSeq.sorted,
      s"workDir $work computed stages ${stages.mkString(",")}; " +
        "expected each of the six once")
    val nPairs = res.pairs.count()
    val nScored = res.scored.count()
    ctx.check(nScored == nPairs, s"$nScored scored rows for $nPairs pairs")
    ctx.repeats("dedupe", nPairs.toString, scoreSum(res.scored))
    val f1 = Dedupe.pairwiseF1(spark, data, res.scored, cfg.threshold)._1
    val edges = pairs(res.scored.filter(col("score") > cfg.threshold))
    Checks.components(edges, pairs(res.clusters, "id", "component"), ctx)
    val layers = trace.map { t =>
      for (r <- lineage) {
        val end = r.getLong(2)
        t.spans += Span(stageLayer(r.getString(0)), i, end - r.getLong(1), end)
      }
      // Dedupe applies admitted conjunctions best-first in chunks of 8
      // until n_covered pairs are covered: with fewer pairs than that in
      // the end, every chunk was applied; otherwise recount after each
      val nRecords = res.records.count()
      val byName = Schemes.byName(cfg.blockingAttrs)
      val chunks = Dedupe.applicableConjunctions(res.conjunctions, nRecords,
        cfg.maxCompare).map(_.conjunction.map(byName)).grouped(8)
      var applied = Seq.empty[Seq[BoundScheme]]
      var covered = 0L
      while (chunks.hasNext && covered < cfg.nCovered) {
        applied ++= chunks.next()
        covered = if (nPairs < cfg.nCovered) 0L
          else Blocking.unionPairs(applied.map(c =>
            Blocking.candidatePairs(res.records, c))).count()
      }
      val emitted = applied.map(c => Checks.emittedPairs(res.records, c)).sum
      val blockingPlans = applied.map(c =>
        Plans.counts(Blocking.candidatePairs(res.records, c)))
      Layers.blocking(emitted, nPairs,
        blockingPlans.map(_._1).sum, blockingPlans.map(_._2).sum,
        blockingPlans.map(_._3).sum) ++
        Layers.sim(nPairs, Plans.counts(graft.perfbench.Featurize
          .dedupeFeatures(res.pairs, res.records, cfg, nRecords))) ++
        Layers.cc(res.ccSupersteps.size - 1, edges.size) ++
        Map("io.files_written" -> Dirs.partFiles(work).toDouble)
    }.getOrElse(Map.empty)
    ctx.release()
    Dirs.delete(work)
    Sample(wall, cpu, Seq(wall), nPairs, f1, heap, layers)
  }
}

/** A fixed block → score → cluster pass, without the learner: the
  * seeded conversation sample is normalized, blocked on first_nchars_8
  * and find_ngrams_6 of head_text (the union of both keys' pairs, about
  * five times the pairs `Dedupe.run` keeps on 3000 orders), featurized
  * and scored as `Dedupe.run` does (its feature frame; the logistic
  * classifier trained on the planted labels) and clustered on the pairs
  * scoring above the match threshold. It scores with the classifier, not
  * the rule score, because the program fails the F1 check with the rule
  * score on this data (perfbench/README.md). Each stage is materialized before the next, so a
  * traced iteration times it as its layer's span. */
final class BlockScoreCluster(ctx: Ctx) extends Workload(ctx) {
  private val Orders = if (ctx.smoke) 1500L else 2000L
  private val Keys = Seq(Seq(BoundScheme(FirstNChars(8), "head_text")), Ngram6)
  private val cfg = Dedupe.Config(seed = ctx.seed)
  private val data = ctx.path("data")

  def setup(): Unit = Data.write(spark, data, Orders, ctx.seed)

  private def materialized(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  private final case class Stages(records: DataFrame, candidates: DataFrame,
                                   featurize: DataFrame => DataFrame,
                                   features: DataFrame, scored: DataFrame,
                                   edges: DataFrame, components: DataFrame,
                                   supersteps: Int)

  def iteration(i: Int, trace: Option[Trace]): Sample = {
    def stage[T](layer: String)(f: => T): T = ctx.layer(trace, layer, i)(f)
    val (st, wall, cpu) = ctx.call(trace, i) {
      val records = stage("normalize") {
        materialized(Normalize.normalize(Transcripts.transcripts(spark, data)))
      }
      val candidates = stage("blocking") {
        materialized(Blocking.unionPairs(
          Keys.map(Blocking.candidatePairs(records, _))))
      }
      val featurize = graft.perfbench.Featurize.featurizer(records, cfg,
        records.count())
      val features = stage("sim")(materialized(featurize(candidates)))
      val scored = stage("ml") {
        val labels = Labels.plantedLabels(spark, data)
        val cols = graft.perfbench.Featurize.columns(cfg)
        val model = MatchClassifier.train(
          featurize(labels.select("id_l", "id_r")).join(labels, Seq("id_l", "id_r")),
          cols)
        materialized(MatchClassifier.score(model, features, cols))
      }
      stage("cc") {
        val edges = materialized(scored.filter(col("score") > cfg.threshold)
          .select("id_l", "id_r"))
        val (c, steps) = ConnectedComponents.run(edges)
        Stages(records, candidates, featurize, features, scored, edges,
          materialized(c), steps.size - 1)
      }
    }
    val heap = trace.fold(0.0)(_ => Clock.liveHeapMb())
    val nPairs = st.candidates.count()
    val nScored = st.scored.count()
    ctx.check(nScored == nPairs, s"$nScored scored rows for $nPairs pairs")
    ctx.repeats("pairs", nPairs.toString, scoreSum(st.scored))
    val f1 = Dedupe.pairwiseF1(spark, data, st.scored, cfg.threshold)._1
    val edgeList = pairs(st.edges)
    Checks.components(edgeList, pairs(st.components, "id", "component"), ctx)
    val layers = if (trace.isEmpty) Map.empty[String, Double] else {
      val plans = Keys.map(k => Plans.counts(Blocking.candidatePairs(st.records, k)))
      // the cached feature frame would stand in for its own plan
      st.features.unpersist()
      Layers.blocking(Keys.map(k => Checks.emittedPairs(st.records, k)).sum, nPairs,
        plans.map(_._1).sum, plans.map(_._2).sum, plans.map(_._3).sum) ++
        Layers.sim(nPairs, Plans.counts(st.featurize(st.candidates))) ++
        Layers.cc(st.supersteps, edgeList.size)
    }
    ctx.release()
    Sample(wall, cpu, Seq(wall), nPairs, f1, heap, layers)
  }
}

/** Incremental ingest, a closed loop with one client. Set-up holds out a
  * seeded 20% of the records and commits the rest, with their
  * truth-derived clusters, through TableIO as a snapshot. Each iteration
  * restores the snapshot and feeds the held-out records in four batches
  * of ~170: each batch is `Incremental.attach` on find_ngrams_6 of
  * head_text, then `TableIO.upsert` of clusters and records, so every
  * batch reads what the one before it wrote. The traced run replays each
  * batch's blocking, scoring and leftover clustering as layer spans after
  * the batch. */
final class IngestBatches(ctx: Ctx) extends Workload(ctx) {
  private val Orders = if (ctx.smoke) 1500L else 3000L
  private val HeldOutPct = 20
  private val Batches = 4
  private val data = ctx.path("data")
  private val snapshot = ctx.path("snapshot")
  private val live = ctx.path("live")
  private val held = ctx.path("heldout")

  private final case class Batch(ids: Seq[String], wallS: Double,
                                 cpuS: Double, pairs: Long,
                                 attachedFrac: Double, filesWritten: Long,
                                 replay: Map[String, Double])

  def setup(): Unit = {
    Dirs.delete(snapshot)
    Data.write(spark, data, Orders, ctx.seed)
    val hash = pmod(xxhash64(lit(ctx.seed), lit("holdout"), col("conv_id")),
      lit(100L))
    val records = Normalize.normalize(Transcripts.transcripts(spark, data))
      .withColumn("_held", hash < HeldOutPct).localCheckpoint()
    val existing = records.filter(!col("_held")).drop("_held")
    val io = new TableIO(spark, snapshot)
    io.upsert("records", existing, Seq("conv_id"))
    // planted truth: c<k> and d<k> are one entity
    val ids = existing.select(col("conv_id").as("id"),
      substring(col("conv_id"), 2, 64).as("_k"))
    io.upsert("clusters", ids.join(
        ids.groupBy("_k").agg(min("id").as("component")), "_k")
      .select("id", "component"), Seq("id"))
    records.filter(col("_held")).drop("_held")
      .withColumn("_batch", pmod(xxhash64(lit(ctx.seed), lit("batch"),
        col("conv_id")), lit(Batches.toLong)))
      .write.mode("overwrite").parquet(held)
    ctx.release()
  }

  def iteration(i: Int, trace: Option[Trace]): Sample = {
    val io = restore()
    val bs = (0 until Batches).map(b => batch(io, b, i, trace))
    val heap = trace.fold(0.0)(_ => Clock.liveHeapMb())
    val f1 = heldOutF1(bs.flatMap(_.ids).toSet)
    ctx.release()
    val layers = if (trace.isEmpty) Map.empty[String, Double] else {
      def total(k: String) = bs.map(_.replay.getOrElse(k, 0.0)).sum
      Layers.blocking(total("blocking.emitted_pairs").toLong,
        total("blocking.candidate_pairs").toLong,
        total("blocking.exchanges").toInt, total("blocking.smj").toInt,
        total("blocking.bhj").toInt) ++
        Layers.sim(total("sim.pairs").toLong, (total("sim.exchanges").toInt,
          total("sim.smj").toInt, total("sim.bhj").toInt)) ++
        Layers.cc(total("cc.supersteps").toInt, total("cc.edges_in").toLong) ++
        Map("attach.attached_frac" -> Clock.median(bs.map(_.attachedFrac)),
          "io.files_written" -> bs.map(_.filesWritten).sum.toDouble)
    }
    Sample(bs.map(_.wallS).sum, bs.map(_.cpuS).sum, bs.map(_.wallS),
      bs.map(_.pairs).sum, f1, heap, layers)
  }

  private def restore(): TableIO = {
    Dirs.delete(live)
    Dirs.copy(snapshot, live)
    new TableIO(spark, live)
  }

  private def batch(io: TableIO, b: Int, i: Int, trace: Option[Trace]): Batch = {
    // the batch arrives in memory; the program reads its tables itself
    val incoming = spark.read.parquet(held).filter(col("_batch") === b)
      .drop("_batch").localCheckpoint()
    val filesBefore = Dirs.partFiles(live)
    val (_, wall, cpu) = ctx.call(trace, i) {
      val existing = spark.read.parquet(s"$live/records")
      val clusters = spark.read.parquet(s"$live/clusters")
      val assigned = ctx.layer(trace, "attach", i) {
        val a = Incremental.attach(existing, clusters, incoming, Ngram6)
          .select("id", "component")
        // traced: computed inside the attach span rather than in the upsert
        if (trace.isDefined) a.localCheckpoint() else a
      }
      ctx.layer(trace, "io", i) {
        io.upsert("clusters", assigned, Seq("id"))
        io.upsert("records", incoming, Seq("conv_id"))
      }
    }
    val filesWritten = Dirs.partFiles(live) - filesBefore
    // every held-out id of the batch has exactly one cluster; it attached
    // when that cluster is an existing record's
    val batchIds = incoming.select("conv_id").collect().map(_.getString(0))
    val batchSet = batchIds.toSet
    val got = pairs(spark.read.parquet(s"$live/clusters")
      .filter(col("id").isin(batchIds: _*)), "id", "component")
    ctx.check(got.size == batchIds.length && got.map(_._1).toSet == batchSet,
      s"batch $b: ${batchIds.length} held-out ids got ${got.size} cluster rows")
    ctx.repeats(s"batch-$b", got.sorted.hashCode.toString)
    val leftoverIds = got.collect { case (id, c) if batchSet(c) => id }
    val existing = spark.read.parquet(s"$live/records")
      .filter(!col("conv_id").isin(batchIds: _*))
    val leftover = incoming.filter(col("conv_id").isin(leftoverIds: _*))
    val replayed = trace.map(t => replay(t, i, incoming, existing, leftover))
    // pairs the batch scored: linkage pairs plus leftover pairs
    val nPairs = replayed.map(_._1).getOrElse(
      Blocking.linkagePairs(incoming, existing, Ngram6).count() +
        Blocking.candidatePairs(leftover, Ngram6).count())
    Batch(batchIds.toSeq, wall, cpu, nPairs,
      1.0 - leftoverIds.size.toDouble / batchIds.length,
      filesWritten, replayed.map(_._2).getOrElse(Map.empty))
  }

  /** The batch's blocking, scoring and leftover clustering, rerun as
    * separate spans on the inputs the batch saw; returns the pairs the
    * batch scored and the replay's per-layer counts. */
  private def replay(t: Trace, i: Int, incoming: DataFrame,
                     existing: DataFrame,
                     leftover: DataFrame): (Long, Map[String, Double]) = {
    val linkage = Blocking.linkagePairs(incoming, existing, Ngram6)
    val inner = Blocking.candidatePairs(leftover, Ngram6)
    val all = incoming.unionByName(existing)
    val (ex, smj, bhj) = Plans.counts(linkage)
    val nPairs = t.span("blocking", i) {
      linkage.persist().count() + inner.persist().count()
    }
    val features = Distances.features(linkage, all)
    val simPlan = Plans.counts(features)
    val edges = Distances.ruleScore(Distances.features(inner, leftover))
      .filter(col("score") > MatchThreshold).persist()
    val nEdges = t.span("sim", i) {
      Distances.ruleScore(features).count()
      edges.count()
    }
    val steps = t.span("cc", i) {
      val (c, s) = ConnectedComponents.run(edges)
      c.count()
      s
    }
    val emitted = linkageEmitted(incoming, existing) +
      Checks.emittedPairs(leftover, Ngram6)
    (nPairs, Layers.blocking(emitted, nPairs, ex, smj, bhj) ++
      Layers.sim(nPairs, simPlan) ++ Layers.cc(steps.size - 1, nEdges))
  }

  /** Pairs the linkage join emits before de-duplication: Σ n_l × n_r over
    * signatures that survive the cap on both sides. */
  private def linkageEmitted(left: DataFrame, right: DataFrame): Long = {
    def sizes(df: DataFrame, as: String) = {
      val inv = Blocking.capHotSignatures(
        Blocking.invertedIndex(df, Ngram6), Blocking.DefaultMaxBlockSize)
      inv.groupBy("sig_0").agg(count(lit(1)).as(as))
    }
    val row = sizes(left, "nl").join(sizes(right, "nr"), "sig_0")
      .agg(sum(col("nl") * col("nr"))).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** Pairwise F1 of what the batches decided: the same-cluster pairs of
    * the final cluster table that touch a held-out id, against the
    * planted truth pairs (c<k>, d<k>) that touch one. Pairs of two
    * committed records are left out: set-up wrote them from the truth. */
  private def heldOutF1(heldOut: Set[String]): Double = {
    val comp = pairs(spark.read.parquet(s"$live/clusters"), "id", "component")
    ctx.check(comp.map(_._1).distinct.size == comp.size,
      "an id has more than one cluster row")
    val predicted = comp.groupBy(_._2).values.flatMap { members =>
      val m = members.map(_._1).sorted
      for (a <- m; b <- m if a < b && (heldOut(a) || heldOut(b))) yield (a, b)
    }.toSet
    val present = comp.map(_._1).toSet
    val truth = present.filter(_.startsWith("c")).map(c => (c, "d" + c.drop(1)))
      .filter { case (c, d) => present(d) && (heldOut(c) || heldOut(d)) }
    Checks.f1(predicted, truth)
  }
}
