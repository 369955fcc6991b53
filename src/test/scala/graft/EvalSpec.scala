package graft

import graft.operators.evalmod

/** Replicates onto_eval.py:56-93 arithmetic on the FIXTURES.md §7
  * micro-case: 5 predictions (1 identity dropped, 1 ignored, 2 TP, 1 FP)
  * vs 4 refs (1 ignored) ⇒ P = R = 2/3. */
class EvalSpec extends SparkSuite {
  import spark.implicits._

  private lazy val pre = Seq(
    ("a", "a", 1.0), // identity -> dropped
    ("b", "x", 0.9), // ignored
    ("c", "y", 0.8), // TP
    ("d", "z", 0.7), // TP
    ("e", "w", 0.6)  // FP
  ).toDF("entity1", "entity2", "value")
  private lazy val ref = Seq(
    ("c", "y", 1.0), ("d", "z", 1.0), ("q", "r", 1.0), ("b", "x", 1.0)
  ).toDF("entity1", "entity2", "value")
  private lazy val ign = Seq(("b", "x", 1.0)).toDF("entity1", "entity2", "value")

  test("prf micro-case: P=R=F1=2/3, one ignored") {
    val r = evalmod.prf(pre, ref, ign)
    assert(r.nMappings == 3 && r.nIgnored == 1)
    assert(math.abs(r.p - 2.0 / 3) < 1e-12)
    assert(math.abs(r.r - 2.0 / 3) < 1e-12)
    assert(math.abs(r.f1 - 2.0 / 3) < 1e-12)
  }

  test("prfReport agrees with prf") {
    val empty = Seq.empty[(String, String, Double)].toDF("entity1", "entity2", "value")
    for ((p, r) <- Seq((pre, ref), (empty, ref), (empty, empty))) {
      val row = evalmod.prfReport(p, r, ign).head()
      val viaPrf = evalmod.prf(p, r, ign)
      assert(viaPrf == evalmod.PRF(row.getAs[Long]("n_mappings"), row.getAs[Long]("n_ignored"),
        row.getAs[Double]("p"), row.getAs[Double]("r"), row.getAs[Double]("f1")))
    }
    val row = evalmod.prfReport(pre, ref, ign).head()
    assert(row.getAs[Long]("n_mappings") == 3)
    assert(row.getAs[Long]("n_ignored") == 1)
    assert(row.getAs[Long]("tp") == 2)
    assert(math.abs(row.getAs[Double]("f1") - 2.0 / 3) < 1e-12)
    // both sides empty: zero counts and the sentinel, not NULL sums
    assert(evalmod.prf(empty, empty, ign) == evalmod.PRF(0, 0, -1.0, -1.0, -1.0))
  }

  test("-1.0 sentinel on empty prediction set (onto_eval.py:47-54)") {
    val empty = Seq.empty[(String, String, Double)].toDF("entity1", "entity2", "value")
    val r = evalmod.prf(empty, ref, ign)
    assert(r.p == -1.0 && r.r == -1.0 && r.f1 == -1.0)
  }

  test("threshold grid matches evenly_divide composition (9+8+21 = 38 points)") {
    val g = evalmod.thresholdGrid
    assert(g.size == 38)
    assert(g.head == 0.0 && math.abs(g(8) - 0.8) < 1e-12 && g.last == 1.0)
  }

  test("thresholdSweep: counts monotone non-increasing in threshold") {
    val sweep = evalmod.thresholdSweep(spark, pre, ref, ign, Seq(0.0, 0.65, 0.75, 0.85, 0.95))
      .orderBy("threshold")
      .select("threshold", "n_mappings").as[(Double, Long)].collect()
    assert(sweep.map(_._2).toList == sweep.map(_._2).sorted.reverse.toList)
    // at 0.0: all 4 non-identity non-ignored... (b,x) ignored -> 3 mappings
    assert(sweep.head._2 == 3)
    // at 0.95: none survive
    assert(sweep.last._2 == 0)
  }

  test("bestByF1 picks max F1 with lowest-threshold tie-break") {
    val sweep = evalmod.thresholdSweep(spark, pre, ref, ign, Seq(0.0, 0.65))
    val best = evalmod.bestByF1(sweep).select("threshold").as[Double].head()
    // at 0.65: pre = {(c,y),(d,z)} both TP -> P=1, R=2/3, F1=0.8 -> better
    assert(best == 0.65)
  }

  test("testProtocol: ss ignores train+val+predefined, us ignores val+predefined (eval_bertmap.py:94-151)") {
    val train = Seq(("c", "y")).toDF("entity1", "entity2")
    val vals = Seq(("d", "z")).toDF("entity1", "entity2")
    val refIgn = Seq(("b", "x")).toDF("entity1", "entity2")
    // us: ignored = {(b,x),(d,z)} -> preKept {(c,y),(e,w)}, refKept
    // {(c,y),(q,r)}, TP {(c,y)} -> P = R = 1/2
    val us = evalmod.testProtocol(pre, ref, refIgn, train, vals,
      semiSupervised = false).head()
    assert(us.getAs[Long]("n_mappings") == 2 && us.getAs[Long]("n_ignored") == 2)
    assert(math.abs(us.getAs[Double]("p") - 0.5) < 1e-12)
    assert(math.abs(us.getAs[Double]("r") - 0.5) < 1e-12)
    assert(us.getAs[String]("setting") == "us")
    // ss: ignored = {(b,x),(d,z),(c,y)} -> preKept {(e,w)}, refKept
    // {(q,r)}, TP 0 -> P = R = F1 = 0
    val ss = evalmod.testProtocol(pre, ref, refIgn, train, vals,
      semiSupervised = true).head()
    assert(ss.getAs[Long]("n_mappings") == 1 && ss.getAs[Long]("n_ignored") == 3)
    assert(ss.getAs[Double]("p") == 0.0 && ss.getAs[Double]("f1") == 0.0)
    assert(ss.getAs[String]("setting") == "ss")
  }

  test("bestByF1PerSource: system vs string-match baselines selected separately (onto_map.py:149-175)") {
    // the reference's eval CSV: system rows + 3 trailing string-match rows;
    // print_eval takes idxmax(F1) over each slice independently
    val report = Seq(
      ("system", 0.90, 0.81),
      ("system", 0.92, 0.88), // best system
      ("system", 0.94, 0.88), // tie -> lower threshold wins
      ("string_match", 0.90, 0.70),
      ("string_match", 0.95, 0.74), // best baseline
      ("string_match", 0.99, 0.60)
    ).toDF("source", "threshold", "f1")
    val best = evalmod.bestByF1PerSource(report)
      .select("source", "threshold").as[(String, Double)].collect().toMap
    assert(best("system") == 0.92)
    assert(best("string_match") == 0.95)
  }
}
