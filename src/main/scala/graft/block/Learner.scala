package graft.block

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Stats for one conjunction, reference StatsDict (_typing.py:81-90). */
final case class ConjStats(
    conjunction: Seq[String],
    nPairs: Long,
    positives: Long,
    negatives: Long,
    rr: Double) {
  /** reference ordering key (db/base.py:94-106): desc by
    * (rr, positives, -negatives). */
  def key: (Double, Long, Long) = (rr, positives, -negatives)
}

/** Greedy dynamic-program conjunction learner — faithful to
  * oagdedupe block/optimizers.py:73-99 + block/learner.py:51-67:
  *
  *   - seeds: every single bound scheme; pruned unless positives > 0 and
  *     rr ≥ seedRrCut (optimizers.py:87, hardcoded 0.99)
  *   - depth 1..k-1: extend the previous best with every other scheme,
  *     keep candidates passing `_keep_if` (optimizers.py:52-61:
  *     positives>0, rr<1, n_pairs>1, ≤1 n-gram scheme), take the best by
  *     (rr, positives, −negatives)
  *   - final list = flatten all DP cells, dedupe, sort desc by the same
  *     key (learner.py:64-66)
  *
  * Execution: where the reference issues ONE POSTGRES QUERY PER
  * CANDIDATE CONJUNCTION (blocking.py:196-254) from a process pool,
  * here the DP runs DEPTH-SYNCHRONOUSLY: a chain's depth-d+1 step
  * depends only on its own depth-d argmax, so every live chain's
  * extensions are scored together in ONE tagged batch per depth
  * ([[scoreAll]] — see there for the block-size/coverage split with no
  * pair-scale work). The whole search is O(k) batches whatever the seed
  * count. Scores are memoized across seeds and chains (reference
  * @lru_cache, optimizers.py:37-50).
  */
/** Conjunction statistics are evaluated on the FULL `records` corpus,
  * not a train sample — a deliberate divergence from the reference's
  * sample-table estimator (db/postgres/initialize.py train table) and
  * the Spark-first answer to a bias a sample CANNOT fix: blocking is
  * frequency-capped, and pair structure shrinks quadratically under
  * record sampling, so a scheme whose keys are hot at corpus scale but
  * cool in an m-of-n sample (a short prefix over a growing key domain)
  * looks high-coverage in-sample and then loses all its blocks to the
  * cap at full scale (measured here: blocking recall 1.0 → 0.2 at
  * sf0.1 from a 4.8k-of-162k sample; re-scaling the cap to m/n just
  * trades the bias for noise — surviving sample blocks of size ≤ 3
  * score rr ≈ 1 on luck).
  *
  * Evaluating full-corpus stats WITHOUT the quadratic self-join:
  *   - `n_pairs` = Σ_blocks C(size, 2) over cap-surviving blocks —
  *     computed from BLOCK SIZES (one groupBy per batch, map-side
  *     partial agg), never materializing a pair. For multi-key (n-gram)
  *     schemes this counts a pair once per shared key — an upper bound
  *     that is exactly the JOIN WORK the conjunction induces, which is
  *     what the reduction ratio guards.
  *   - `positives`/`negatives` = labeled pairs whose two sides share a
  *     cap-surviving key — a join against the LABELED records only
  *     (thousands of rows however large the corpus).
  */
final class Learner(
    records: DataFrame,
    labels: DataFrame,
    attrs: Seq[String],
    k: Int = 3,
    seedRrCut: Double = 0.99,
    maxBlockSize: Int = Blocking.DefaultMaxBlockSize,
    idCol: String = "conv_id",
    maxCompare: Long = 1000000L) {

  val schemes: Seq[BoundScheme] = Schemes.forAttributes(attrs)
  private val byName: Map[String, BoundScheme] =
    schemes.map(b => b.name -> b).toMap
  // memoized conjunction stats, keyed by the SORTED scheme list — only
  // the driver thread running the DP touches it
  private val cache = mutable.HashMap.empty[Seq[String], ConjStats]

  private val labelsCached = labels.cache()

  private def sigColName(scheme: String): String = s"_s_$scheme"

  /** Forward SIGNATURE table: idCol + one validated signature column
    * per scheme, every column an array<string> (scalar schemes become
    * 1-element arrays; array schemes are deduped map-side and cleared
    * of null/"" exactly as [[Blocking.invertedIndex]] filters them).
    * Computed and cached ONCE — the expensive part of every DP batch
    * (regex tokenization, n-gram generation over text attributes) runs
    * one time per record instead of once per batch per record.
    */
  private def sigTable(df: DataFrame): DataFrame =
    df.select((col(idCol) +: schemes.map { b =>
      val e = b.scheme.expr(b.attr)
      val c =
        if (b.isArray)
          filter(array_distinct(e), s => s.isNotNull && s =!= "")
        else
          when(e.isNotNull && e =!= "", array(e))
            .otherwise(array().cast("array<string>"))
      c.as(sigColName(b.name))
    }): _*)

  private val corpusSigs = sigTable(records).cache()
  // labeled-record slice of the corpus — both ends of every labeled
  // pair; tiny next to the corpus, cached for the coverage joins.
  // Semi-joined off the CACHED signature table so the tokenization /
  // n-gram expressions never run a second time over records.
  private val labRecSigs = {
    val ids = labels.select(col("id_l").as(idCol))
      .unionByName(labels.select(col("id_r").as(idCol))).distinct()
    corpusSigs.join(ids, Seq(idCol), "left_semi").cache()
  }
  private lazy val nComparisons: Double = {
    val n = corpusSigs.count().toDouble
    n * (n - 1) / 2.0
  }

  /** Per-row array of 64-bit hashes of the base-conjunction signature
    * tuples — the cartesian product of the base schemes' per-record
    * signature sets, hash-chained left to right (block statistics need
    * key IDENTITY, not key text; a 64-bit collision merges two blocks
    * in the estimate with probability ~#blocks²/2⁶⁴ — statistical
    * zero). Empty array ⇔ some base scheme has no valid signature ⇔
    * the record is in no block of this conjunction.
    */
  private def combosCol(base: Seq[String]): Column =
    base.foldLeft(array(lit(0L))) { (acc, name) =>
      flatten(transform(acc, h =>
        transform(col(sigColName(name)), s => xxhash64(h, s))))
    }

  /** (tag, block-key-hash) incidence rows for every conjunction in
    * `conjs`, one per (record, conjunction, compound signature) —
    * produced by a PURE PROJECTION over a cached signature table: no
    * join anywhere, so the only shuffle a stats batch ever does is the
    * partial-agg groupBy on the emitted key. The tag is the INT index
    * into `conjs` (callers map back by position), not a name: it rides
    * every incidence row through the batch shuffle, and a 4-byte int vs
    * a ~25-byte name is a third off the shuffled row (guide §2.3,
    * narrower types).
    *
    * A conjunction's keys are its base's (`init`) keys chained with its
    * last scheme's signatures — the same hashes [[combosCol]] gives the
    * whole conjunction. Each DISTINCT base's key array is computed once
    * per row in its own projection before the explode: Catalyst shares
    * no work across lambdas, so a base inlined per conjunction would be
    * re-hashed once per extension.
    */
  private def incidence(sigs: DataFrame, conjs: Seq[Seq[String]],
                        keep: Seq[Column]): DataFrame = {
    val bases = conjs.map(_.init).distinct
    val baseCol = bases.zipWithIndex.map { case (b, j) => b -> s"_b$j" }.toMap
    val entries = array(conjs.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("_x"), col(baseCol(c.init)).as("bc"),
        col(sigColName(c.last)).as("sigs")) }: _*)
    sigs
      .select(col("*") +: bases.map(b => combosCol(b).as(baseCol(b))): _*)
      .select(keep :+ explode(entries).as("_e"): _*)
      // the key list is computed as a PLAIN column between the two
      // generators: an explode whose child dereferences the previous
      // explode's struct inside nested lambdas trips Catalyst's
      // attribute binding (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
      .select((keep :+ col("_e._x").as("_x")) :+
        flatten(transform(col("_e.bc"), h =>
          transform(col("_e.sigs"), s => xxhash64(h, s)))).as("_ks"): _*)
      .select((keep :+ col("_x")) :+ explode(col("_ks")).as("sigh"): _*)
  }

  /** The surviving-block-size relation for one stats batch — exposed
    * package-private so PlanAuditSpec can pin its shape (no Join, no
    * Window anywhere: [[incidence]] is a pure projection and this adds
    * one grouped count).
    *
    * `_n > 1`: singleton blocks are dropped before the persist — they
    * contribute C(1,2) = 0 pairs, and a labeled pair BOTH of whose
    * ends emit a key makes that key's global size ≥ 2, so no coverage
    * can hide in a singleton. With n-gram schemes most compound keys
    * are singletons; this shrinks the spilled block table by roughly
    * that fraction.
    */
  private[graft] def statsPlan(conjs: Seq[Seq[String]]): DataFrame =
    incidence(corpusSigs, conjs, Nil)
      .groupBy(col("_x"), col("sigh"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1 && col("_n") <= maxBlockSize)

  /** Labeled pairs whose two ends share a key of `surviving` (a
    * [[statsPlan]] over the same `conjs`): `labs` joined to
    * (`_x`, `sigh`) per shared key. Joins touch only the labeled-record
    * slice, never the corpus. The cap-survivor lookup is a DOUBLE
    * BROADCAST semi-join (guide §3.2 shape): the labeled slice's
    * distinct keys prune `surviving` map-side (no sort, no exchange of
    * the big table), and the surviving subset — bounded by the labeled
    * key count — broadcasts back against the labeled incidence rows.
    */
  private def labeledHits(surviving: DataFrame, conjs: Seq[Seq[String]],
                          labs: DataFrame): DataFrame = {
    val keyCols = Seq("_x", "sigh")
    val labKeys = incidence(labRecSigs, conjs, Nil).distinct()
    val survKeys = surviving.select(keyCols.map(col): _*)
      .join(broadcast(labKeys), keyCols, "left_semi")
    val labSigs = incidence(labRecSigs, conjs, Seq(col(idCol)))
      .join(broadcast(survKeys), keyCols, "left_semi")
    val l = labSigs.select(col(idCol).as("id_l") +: keyCols.map(col): _*)
    val r = labSigs.select(col(idCol).as("id_r") +: keyCols.map(col): _*)
    labs.join(l, "id_l").join(r, "id_r" +: keyCols)
  }

  /** Optional progress logging (-Dgraft.verbose=true or GRAFT_VERBOSE=1). */
  private val verbose = sys.props.get("graft.verbose").contains("true") ||
    sys.env.get("GRAFT_VERBOSE").contains("1")
  private def log(msg: => String): Unit =
    if (verbose) System.err.println(s"[learner] $msg")

  /** Score every conjunction of `conjs` not already cached — ONE stats
    * batch, two Spark jobs, however many bases and extensions it spans.
    *
    * Shape: ONE map-only pass over the cached signature table emits
    * (tag, block-key-hash) incidence rows for every conjunction at once
    * ([[incidence]] — no corpus-scale join anywhere), then (1) a
    * grouped count turns them into BLOCK SIZES — n_pairs is
    * Σ C(size,2) over cap-surviving blocks, no pair ever materialized —
    * and (2) the labeled-record slice's keys are semi-joined against
    * the surviving blocks to count covered labeled pairs. One
    * corpus-scale shuffle per batch, with map-side partial
    * aggregation; nothing scales with the pair count. Conjunctions
    * equal up to scheme order are scored once.
    */
  private def scoreAll(conjs: Seq[Seq[String]]): Unit = {
    val missing = conjs.filterNot(c => cache.contains(c.sorted))
      .distinctBy(_.sorted)
    if (missing.isEmpty) return
    val t0 = System.nanoTime()
    // block SIZES on the full corpus — a plain groupBy with map-side
    // partial aggregation over map-only incidence rows; the cap is
    // applied to the real sizes, exactly as candidatePairs will apply
    // it at blocking time.
    // read twice (n_pairs agg + coverage semi-join) → persisted.
    // MEMORY_AND_DISK (columnar, evictable, lineage kept): the
    // surviving-block table can be tens of millions of rows per
    // batch — an un-evictable localCheckpoint OOMed the 8 GB test
    // JVM, and the round-5 DISK_ONLY answer paid a full disk
    // write+read per DP batch even when the table fit in memory;
    // a plain cache spills under pressure instead of pinning.
    val surviving = statsPlan(missing)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // released on every path: a failed collect must not leave the
    // batch's block table pinned in the session
    try {
      // the n_pairs aggregation and the coverage arm are independent
      // reads of `surviving` — run them as two CONCURRENT jobs (guide
      // §2.6: actions are only sequential because the driver calls
      // them sequentially); the second job's tasks backfill the
      // first's barrier tail. Concurrent first-materialization of the
      // cache is safe (per-partition cache locks: one task computes,
      // the other waits).
      val nPairsFut = scala.concurrent.Future(
        surviving.groupBy(col("_x"))
          .agg(sum(col("_n") * (col("_n") - 1) / 2).cast("long").as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      )(Learner.ec)
      val covTry = scala.util.Try(
        labeledHits(surviving, missing, labelsCached)
          .select("_x", "id_l", "id_r", "label").distinct()
          .groupBy(col("_x"))
          .agg(
            coalesce(sum(when(col("label") === 1, 1L)), lit(0L)).as("pos"),
            coalesce(sum(when(col("label") === 0, 1L)), lit(0L)).as("neg"))
          .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
          .toMap)
      // awaited even when the coverage job failed, so no job still
      // reads `surviving` when it is released
      val nPairsRows = scala.concurrent.Await.result(nPairsFut,
        scala.concurrent.duration.Duration.Inf)
      val covRows = covTry.get
      missing.zipWithIndex.foreach { case (c, i) =>
        cache(c.sorted) = nPairsRows.get(i) match {
          case Some(n) =>
            val (pos, neg) = covRows.getOrElse(i, (0L, 0L))
            ConjStats(c, n, pos, neg, 1.0 - n / math.max(nComparisons, 1.0))
          case None => ConjStats(c, 0L, 0L, 0L, 1.0)
        }
      }
    } finally surviving.unpersist()
    log(s"scored ${missing.size} conjunctions over " +
      s"${missing.map(_.init).distinct.size} bases in " +
      s"${math.round((System.nanoTime() - t0) / 1e8) / 10.0} s")
  }

  /** Score `base ∧ x` for every x in `exts` (one batch for the uncached
    * ones). Stats live under the sorted key, but each returned
    * conjunction is the CALLER's path order `base :+ x` — otherwise
    * two chains converging on one scheme set would both see whichever
    * ordering was scored first. */
  def scoreBatch(base: Seq[String], exts: Seq[String]): Map[String, ConjStats] = {
    scoreAll(exts.map(base :+ _))
    exts.map(x => x -> cache((base :+ x).sorted).copy(conjunction = base :+ x))
      .toMap
  }

  /** Single-conjunction scoring (tests / spot checks). */
  def score(conjunction: Seq[String]): ConjStats =
    scoreBatch(conjunction.init, Seq(conjunction.last))(conjunction.last)

  private def nGramCount(conj: Seq[String]): Int =
    conj.count(_.startsWith("find_ngrams"))

  /** optimizers.py:52-61 `_keep_if`. */
  private def keepIf(s: ConjStats): Boolean =
    s.positives > 0 && s.rr < 1.0 && s.nPairs > 1 &&
      nGramCount(s.conjunction) <= 1

  /** Seeds passing the cut (optimizers.py:87), in scheme order. */
  private def passingSeeds(singles: Map[String, ConjStats]): Seq[String] =
    schemes.map(_.name).filter { s =>
      val st = singles(s); st.positives > 0 && st.rr >= seedRrCut
    }

  /** The min_rr refusal threshold the budget loop will apply —
    * `1 − maxCompare / C(n,2)` over the SAME corpus the stats are
    * computed on ([[graft.pipeline.Dedupe.applicableConjunctions]],
    * reference db/postgres/blocking.py:74-86).
    */
  def budgetMinRr: Double = 1.0 - maxCompare / math.max(nComparisons, 1.0)

  /** Which passing seeds the DP refines EAGERLY — derived from the
    * BUDGET MATH, not a rank count: the seeds whose own depth-1 rr
    * already clears the min_rr/max_compare refusal. Their refinements
    * sort above them (higher rr) and cover positives at a lower
    * pair-per-positive cost, which is exactly where the best-first
    * nCovered budget bites — while coverage itself is safe regardless,
    * because the admitted seed (applied later in the same prefix)
    * blocks a SUPERSET of every refinement's pairs. Each skipped
    * below-cutoff seed keeps its extensions out of the depth batches;
    * skipped seeds keep their depth-1 stats in the learned list, so
    * the budget loop still sees (and refuses) them.
    *
    * What the skip assumes — and what guards it: rr is MONOTONE under
    * refinement (`seed ∧ x` blocks a subset of the seed's pairs, so
    * rr(seed ∧ x) ≥ rr(seed)), which means a below-cutoff seed's
    * refinement CAN clear the cutoff and enter the applied prefix —
    * the reference, which extends every seed (optimizers.py:73-99),
    * would learn it. Such a refinement only MATTERS when it covers a
    * duplicate pair nothing admitted covers, and that is checkable
    * exactly against the labels: [[learn]] verifies the admitted
    * prefix's label coverage after the primary pass and escalates to
    * refining EVERY passing seed (full reference semantics,
    * cache-incremental) if a labeled positive would otherwise be
    * lost. The guard is exactly as strong as the labels — the same
    * evidence the reference's own conjunction search runs on.
    */
  private[graft] def refinableSeeds(singles: Map[String, ConjStats]): Seq[String] = {
    val minRr = budgetMinRr
    passingSeeds(singles)
      .filter(s => singles(s).rr >= minRr)
      .sortBy(s => singles(s).key)(Ordering[(Double, Long, Long)].reverse)
  }

  /** Distinct labeled POSITIVE pairs covered by ANY of `conjs` (both
    * ends share a cap-surviving compound key of some conjunction) —
    * the union counterpart of [[scoreAll]]'s per-conjunction coverage
    * arm, same plan: one map-only incidence pass, one grouped count for
    * the cap-surviving blocks, coverage joins on the labeled slice
    * only. Feeds [[learn]]'s escalation guard; oracle-checked as
    * q60_coverage_guard.
    */
  def coveredPairs(conjs: Seq[Seq[String]]): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    if (conjs.isEmpty)
      return Seq.empty[(String, String)].toDF("id_l", "id_r")
    labeledHits(statsPlan(conjs), conjs,
      labelsCached.filter(col("label") === 1))
      .select("id_l", "id_r").distinct()
  }

  private[graft] def coveredPositives(conjs: Seq[Seq[String]]): Long =
    coveredPairs(conjs).count()

  /** learner.py:51-67 `conjunctions_list`: DP from every seed, flatten,
    * dedupe, sort desc by (rr, positives, −negatives).
    */
  def learn(): Seq[ConjStats] = {
    val singles = scoreBatch(Nil, schemes.map(_.name))
    // refine only the seeds the budget math says can matter (see
    // [[refinableSeeds]]); the rest stay as their depth-1 selves.
    // (The reference extends EVERY seed — one postgres query per
    // candidate from a process pool, optimizers.py:73-99; at Spark
    // batch costs a below-cutoff seed's refinements are corpus-scale
    // work for conjunctions the budget loop usually refuses.)
    val passing = passingSeeds(singles)
    val primary = refinableSeeds(singles)
    val learned = learnFrom(primary, singles)
    if (passing.size == primary.size) return learned
    // COVERAGE GUARD for the skipped (below-cutoff) seeds: if the
    // would-be admitted prefix (the same takeWhile
    // [[graft.pipeline.Dedupe.applicableConjunctions]] applies)
    // already covers every labeled positive, skipped refinements
    // cannot add coverage — the skip is proven safe against the
    // labels. Otherwise fall back to the reference's full semantics.
    // Common-case cost: ZERO extra Spark jobs beyond one tiny labels
    // count — a single admitted conjunction covering all positives
    // short-circuits the union batch.
    val admitted = learned.takeWhile(_.rr >= budgetMinRr)
    val totalPos = labelsCached.filter(col("label") === 1)
      .select("id_l", "id_r").distinct().count()
    val gapFree = totalPos == 0L ||
      admitted.exists(_.positives == totalPos) ||
      coveredPositives(admitted.map(_.conjunction)) == totalPos
    if (gapFree) learned
    else {
      log(s"labeled positives uncovered behind the admitted prefix — " +
        s"escalating to full DP over all ${passing.size} passing seeds")
      learnFrom(passing, singles)
    }
  }

  /** optimizers.py:73-99 `get_best` for every seed of `extendSeeds`
    * (passing seeds), run in LOCKSTEP: at each depth every live chain's
    * `base :+ x` candidates go into one [[scoreAll]] batch — the cache
    * drops what an earlier depth, chain or pass already scored and
    * folds chains converging on one sorted conjunction into one
    * candidate — then each chain extends by its own argmax (or dies
    * when no candidate passes `_keep_if`). Per chain this is exactly
    * the sequential DP: the same path-ordered conjunctions, and `maxBy`
    * over the same per-base map keyed by extension name, so ties
    * resolve identically. Chains are flattened in seed order, and both
    * `distinctBy` (keeps first) and `sortBy` (stable) preserve it.
    */
  private def learnFrom(extendSeeds: Seq[String],
                        singles: Map[String, ConjStats]): Seq[ConjStats] = {
    val chains = extendSeeds.map(s => mutable.ArrayBuffer(singles(s)))
    var live = chains
    for (_ <- 2 to k) {
      val steps = live.map { chain =>
        val base = chain.last.conjunction
        base -> schemes.map(_.name)
          .filterNot(base.contains)
          .filter(x => nGramCount(base :+ x) <= 1) // prune pre-score; same kept set
      }
      scoreAll(steps.flatMap { case (base, exts) => exts.map(base :+ _) })
      live = live.zip(steps).filter { case (chain, (base, exts)) =>
        val candidates = scoreBatch(base, exts).values.filter(keepIf)
        if (candidates.nonEmpty) chain += candidates.maxBy(_.key)
        candidates.nonEmpty
      }.map(_._1)
    }
    val rest = passingSeeds(singles).filterNot(extendSeeds.contains)
    (chains.flatten ++ rest.map(singles))
      .distinctBy(_.conjunction.sorted)
      .sortBy(_.key)(Ordering[(Double, Long, Long)].reverse)
  }

  def boundConjunction(names: Seq[String]): Seq[BoundScheme] =
    names.map(byName)

  def unpersist(): Unit = {
    corpusSigs.unpersist(); labelsCached.unpersist()
    labRecSigs.unpersist(); ()
  }
}

object Learner {
  /** Daemon-thread pool for driver-side overlapped jobs: each stats
    * batch's concurrent n_pairs collect and the pipeline's TF-IDF
    * prewarm ([[graft.pipeline.Dedupe.run]]). Daemon threads, so a
    * crashed driver never hangs on pool shutdown. */
  private[graft] val ec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "learner-async")
        t.setDaemon(true)
        t
      }))
}
