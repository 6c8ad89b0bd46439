package graft.block

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Learner semantics ported from the reference's unit tests
  * (tests/block/test_learner.py:56-81, test_optimizers.py:59-87):
  * conjunction list is deduped and sorted desc by (rr, positives,
  * −negatives); seeds failing the rr/positives cut yield nothing;
  * stats match hand-computed values on a tiny fixture.
  */
class LearnerSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // 6 records: r1/r2 near-identical (labeled match), r5/r6 distinct
  // (labeled non-match)
  private lazy val train = Seq(
    ("r1", "alpha beta", "u a"),
    ("r2", "alpha beta", "u a"),
    ("r3", "gamma delta", "u t"),
    ("r4", "epsilon zeta", "a t"),
    ("r5", "eta theta", "u a"),
    ("r6", "iota kappa", "t t")).toDF("conv_id", "head_text", "role_seq")

  private lazy val labels = Seq(
    ("r1", "r2", 1),
    ("r5", "r6", 0)).toDF("id_l", "id_r", "label")

  private def learner(seedCut: Double = 0.0) =
    new Learner(train, labels, Seq("head_text"), k = 2,
      seedRrCut = seedCut, maxBlockSize = 100)

  test("score: stats match hand computation (J3+A1+A2)") {
    val s = learner().score(Seq("exactmatch_head_text"))
    // only r1/r2 share identical head_text → 1 pair, the labeled match
    assert(s.nPairs == 1 && s.positives == 1 && s.negatives == 0)
    // rr = 1 − 1/C(6,2)
    assert(math.abs(s.rr - (1.0 - 1.0 / 15.0)) < 1e-12)
  }

  test("learn: list deduped and sorted desc by (rr, positives, -negatives)") {
    val conjs = learner().learn()
    assert(conjs.nonEmpty)
    val keys = conjs.map(_.key)
    assert(keys == keys.sortBy(identity)(
      Ordering[(Double, Long, Long)].reverse))
    assert(conjs.map(_.conjunction.sorted).distinct.size == conjs.size)
    // every kept conjunction passes _keep_if (optimizers.py:52-61)
    conjs.foreach { c =>
      assert(c.positives > 0 && c.rr < 1.0 && c.nPairs > 1 ||
        c.conjunction.size == 1) // seeds are kept via the seed cut only
    }
  }

  test("seed cut prunes low-rr seeds (optimizers.py:87)") {
    // with the hardcoded 0.99 cut, nothing on 6 records can pass
    // (1 pair ⇒ rr = 14/15 < 0.99) → no conjunctions at all
    assert(learner(seedCut = 0.99).learn().isEmpty)
  }

  test("budget-derived DP seed skip: a below-min_rr seed keeps its " +
    "depth-1 stats but is never refined") {
    // maxCompare = 1 over C(6,2) = 15 comparisons ⇒ min_rr = 14/15: the
    // budget loop will refuse any conjunction admitting > 1 pair, so
    // the DP must not spend corpus-scale batches refining seeds the
    // budget already refuses at depth 1
    val l = new Learner(train, labels, Seq("head_text"), k = 2,
      seedRrCut = 0.0, maxBlockSize = 100, maxCompare = 1L)
    val singles = l.scoreBatch(Nil, l.schemes.map(_.name))
    assert(math.abs(l.budgetMinRr - 14.0 / 15.0) < 1e-12)
    // find_ngrams_4 over head_text: r1/r2 share 7 four-gram keys ⇒
    // n_pairs = 7 (join-work counting) ⇒ rr = 8/15 < min_rr: covered
    // (positives = 1) but refused by the budget at depth 1
    val refused = "find_ngrams_4_head_text"
    assert(singles(refused).positives > 0 &&
      singles(refused).rr < l.budgetMinRr)
    val refinable = l.refinableSeeds(singles)
    assert(!refinable.contains(refused),
      "below-min_rr seed must be skipped for the BUDGET reason")
    // exactmatch admits exactly 1 pair ⇒ rr = 14/15 = min_rr: refinable
    assert(refinable.contains("exactmatch_head_text"))
    val conjs = l.learn()
    // the refused seed survives at depth 1 (the learned list still
    // carries its stats)...
    assert(conjs.exists(_.conjunction == Seq(refused)))
    // ...but no DP chain was seeded from it
    assert(conjs.filter(_.conjunction.size > 1)
      .forall(_.conjunction.head != refused))
  }

  /** The sequential per-seed DP the depth-synchronous learner replaced,
    * kept as its oracle: each seed's chain runs alone, one scoring call
    * per base (`getBestFrom` verbatim, scoring through the learner's
    * public `scoreBatch`), then flatten / `distinctBy` / `sortBy`.
    * `extendSeeds` is the seed list `learn()` extends, in its order —
    * the budget-refinable seeds in rank order, or every passing seed in
    * scheme order after a coverage-gap escalation. Also returns the raw
    * chains so a fixture can show its chains converge. */
  private def referenceLearn(l: Learner, k: Int, seedRrCut: Double,
                             extendSeeds: Map[String, ConjStats] => Seq[String])
      : (Seq[ConjStats], Seq[Seq[ConjStats]]) = {
    import scala.collection.mutable
    def nGramCount(conj: Seq[String]): Int =
      conj.count(_.startsWith("find_ngrams"))
    def keepIf(s: ConjStats): Boolean =
      s.positives > 0 && s.rr < 1.0 && s.nPairs > 1 &&
        nGramCount(s.conjunction) <= 1
    def getBestFrom(seed: String, singles: Map[String, ConjStats]): Seq[ConjStats] = {
      val dp = mutable.ArrayBuffer.empty[ConjStats]
      val s0 = singles(seed)
      if (s0.positives == 0 || s0.rr < seedRrCut) return Nil
      dp += s0
      var n = 1
      var done = false
      while (n < k && !done) {
        val base = dp(n - 1).conjunction
        val extNames = l.schemes.map(_.name)
          .filterNot(base.contains)
          .filter(x => nGramCount(base :+ x) <= 1) // prune pre-score; same kept set
        val candidates = l.scoreBatch(base, extNames).values.filter(keepIf)
        if (candidates.isEmpty) done = true
        else {
          dp += candidates.maxBy(_.key)
          n += 1
        }
      }
      dp.toSeq
    }
    val singles = l.scoreBatch(Nil, l.schemes.map(_.name))
    val passing = l.schemes.map(_.name).filter { s =>
      val st = singles(s); st.positives > 0 && st.rr >= seedRrCut
    }
    val seeds = extendSeeds(singles)
    val rest = passing.filterNot(seeds.contains)
    val chains = seeds.map(s => getBestFrom(s, singles))
    ((chains.flatten ++ rest.map(singles))
      .distinctBy(_.conjunction.sorted)
      .sortBy(_.key)(Ordering[(Double, Long, Long)].reverse), chains)
  }

  test("lockstep DP equals the sequential per-seed DP on converging " +
    "chains") {
    def mk() = new Learner(train, labels, Seq("head_text", "role_seq"),
      k = 3, seedRrCut = 0.0, maxBlockSize = 100)
    // the default budget refuses nothing: every passing seed is refined
    val ref = mk()
    val (expected, chains) = referenceLearn(ref, k = 3, seedRrCut = 0.0,
      ref.refinableSeeds)
    assert(ref.budgetMinRr < 0.0)
    // premise: two chains reach the same SORTED conjunction along
    // different paths — the case one lockstep batch scores once and
    // each chain must still see in its own path order
    val cells = chains.zipWithIndex.flatMap { case (c, i) =>
      c.drop(1).map(s => (s.conjunction, i)) }
    assert(cells.groupBy(_._1.sorted).values.exists { g =>
      g.map(_._2).distinct.size > 1 && g.map(_._1).distinct.size > 1 },
      "fixture no longer has chains converging along different paths")
    val learned = mk().learn()
    // exact element-wise equality INCLUDING order and path order
    assert(learned == expected)
    assert(learned.exists(_.conjunction.size == 3))
  }

  test("coverage-gap escalation: refinements of budget-refused seeds " +
    "are learned when the admitted prefix would miss a labeled positive") {
    // Two labeled positives, NO depth-1 seed admissible: the b-block
    // (5 identical heads) puts ≥ 10 pairs under every head scheme, the
    // 7-strong "u a" role block ≥ 21 under every role scheme — so with
    // maxCompare = 2 over C(16,2) = 120 (min_rr = 118/120) every seed
    // is refused at depth 1 and refinableSeeds is EMPTY. Only
    // refinements (e.g. head-prefix ∧ role-exact: blocks {a1,a2} and
    // {b1,b2}, 2 pairs) clear the cutoff — exactly the case the
    // primary skip would lose and the label-coverage guard must catch.
    val recs = Seq(
      ("a1", "zeta one", "u a"), ("a2", "zeta two", "u a"),
      ("b1", "alpha beta", "q q"), ("b2", "alpha beta", "q q"),
      ("b3", "alpha beta", "r r"), ("b4", "alpha beta", "s s"),
      ("b5", "alpha beta", "t v"),
      ("n1", "zeta n1", "t t"), ("n2", "zeta n2", "t u"),
      ("n3", "zeta n3", "u t"), ("n4", "zeta n4", "a a"),
      ("m1", "golf gg", "u a"), ("m2", "hotel hh", "u a"),
      ("m3", "india ii", "u a"), ("m4", "juliet jj", "u a"),
      ("m5", "kilo kk", "u a")).toDF("conv_id", "head_text", "role_seq")
    val labs = Seq(("a1", "a2", 1), ("b1", "b2", 1), ("n1", "m1", 0))
      .toDF("id_l", "id_r", "label")
    val l = new Learner(recs, labs, Seq("head_text", "role_seq"), k = 3,
      seedRrCut = 0.0, maxBlockSize = 100, maxCompare = 2L)
    val singles = l.scoreBatch(Nil, l.schemes.map(_.name))
    // premise: covering seeds exist but every one is budget-refused at
    // depth 1, so the eager criterion refines nothing
    assert(l.schemes.map(_.name).exists { s =>
      singles(s).positives > 0 && singles(s).rr < l.budgetMinRr })
    assert(l.refinableSeeds(singles).isEmpty)
    val learned = l.learn()
    val admitted = learned.takeWhile(_.rr >= l.budgetMinRr)
    // escalation refined the refused seeds: the admitted prefix now
    // holds multi-scheme refinements and covers BOTH labeled positives
    assert(admitted.nonEmpty && admitted.forall(_.conjunction.size > 1))
    assert(l.coveredPositives(admitted.map(_.conjunction)) == 2L)
    // and the escalated list is the sequential per-seed DP's
    val reference = new Learner(recs, labs, Seq("head_text", "role_seq"),
      k = 3, seedRrCut = 0.0, maxBlockSize = 100, maxCompare = 2L)
    assert(learned == referenceLearn(reference, k = 3, seedRrCut = 0.0,
      singles => reference.schemes.map(_.name).filter { s =>
        singles(s).positives > 0 && singles(s).rr >= 0.0 })._1)
  }

  test("a failed stats batch leaves no persisted block table behind") {
    import org.apache.spark.sql.functions.{col, udf}
    val sc = spark.sparkContext
    // the label column throws once evaluated: the first batch's
    // coverage collect fails while its block table is persisted
    val boom = udf((v: Int) => {
      if (v >= 0) throw new IllegalStateException("label unreadable"); v
    })
    // (an RDD source: over a local relation the optimizer would fold
    // the UDF at plan time, before any batch runs)
    val badLabels = sc.parallelize(Seq(("r1", "r2", 1), ("r5", "r6", 0)))
      .toDF("id_l", "id_r", "label")
      .withColumn("label", boom(col("label")))
    val before = sc.getPersistentRDDs.keys.toSet
    val l = new Learner(train, badLabels, Seq("head_text"), k = 2,
      seedRrCut = 0.0, maxBlockSize = 100)
    intercept[Exception](l.learn())
    l.unpersist()
    assert((sc.getPersistentRDDs.keys.toSet -- before).isEmpty,
      "a persisted RDD outlived the failed learn()")
  }

  test("ngram constraint: conjunctions never contain 2 ngram schemes") {
    val conjs = learner().learn()
    conjs.foreach { c =>
      assert(c.conjunction.count(_.startsWith("find_ngrams")) <= 1)
    }
  }
}
