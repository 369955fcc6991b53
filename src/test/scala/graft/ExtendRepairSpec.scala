package graft

import graft.operators.{extend, repair}

class ExtendRepairSpec extends SparkSuite {
  import spark.implicits._

  // src hierarchy: a1 -> p1 ; tgt: b1 -> q1. Labels make (p1,q1) an exact match.
  private lazy val srcEdges = Seq(("a1", "p1")).toDF("child_iri", "parent_iri")
  private lazy val tgtEdges = Seq(("b1", "q1")).toDF("child_iri", "parent_iri")
  private lazy val srcLabels = Seq(("a1", "alpha"), ("p1", "parent concept"))
    .toDF("id", "label")
  private lazy val tgtLabels = Seq(("b1", "alpha two"), ("q1", "parent concept"))
    .toDF("id", "label")

  test("extension adds the 1-hop parent pair via string match, then terminates") {
    val seeds = Seq(("a1", "b1", 0.95)).toDF("entity1", "entity2", "value")
    val out = extend.extendMappings(spark, seeds, srcEdges, tgtEdges,
      srcLabels, tgtLabels, kappa = 0.9, maxIter = 10)
    val rows = out.as[(String, String, Double)].collect().toSet
    assert(rows == Set(("p1", "q1", 1.0)))
  }

  test("seen pairs are never re-emitted (bert_classifier_extend.py:48-50)") {
    val seeds = Seq(("a1", "b1", 0.95), ("p1", "q1", 0.99))
      .toDF("entity1", "entity2", "value")
    val out = extend.extendMappings(spark, seeds, srcEdges, tgtEdges,
      srcLabels, tgtLabels, kappa = 0.9, maxIter = 10)
    assert(out.count() == 0) // (p1,q1) already in the seed/seen set
  }

  test("no seeds above kappa -> empty expansion, empty-schema preserved") {
    val seeds = Seq(("a1", "b1", 0.5)).toDF("entity1", "entity2", "value")
    val out = extend.extendMappings(spark, seeds, srcEdges, tgtEdges,
      srcLabels, tgtLabels, kappa = 0.9, maxIter = 10)
    assert(out.columns.toSeq == Seq("entity1", "entity2", "value") && out.count() == 0)
  }

  test("extension output scores all >= kappa (invariant)") {
    val seeds = Seq(("a1", "b1", 0.95)).toDF("entity1", "entity2", "value")
    val out = extend.extendMappings(spark, seeds, srcEdges, tgtEdges,
      srcLabels, tgtLabels, kappa = 0.9, maxIter = 10)
    assert(out.filter($"value" < 0.9).count() == 0)
  }

  test("multi-parent diamond: the expansion has no duplicate pair and none of the seeds") {
    // p has children a1, a2 and (via m) a3; q mirrors it with b1, b2, n, b3.
    // Iteration 1 reaches (p,q) from both (a1,b1) and (a2,b2), iteration 2
    // reaches it again from (m,n): Pipeline.run unions raw ∪ expansion
    // with no dedup on this
    val sE = Seq(("a1", "p"), ("a2", "p"), ("a3", "m"), ("m", "p"))
      .toDF("child_iri", "parent_iri")
    val tE = Seq(("b1", "q"), ("b2", "q"), ("b3", "n"), ("n", "q"))
      .toDF("child_iri", "parent_iri")
    val names = Seq("1" -> "alpha", "2" -> "beta", "3" -> "gamma")
    val sL = (names.map { case (i, l) => (s"a$i", l) } ++ Seq(("m", "middle"), ("p", "top")))
      .toDF("id", "label")
    val tL = (names.map { case (i, l) => (s"b$i", l) } ++ Seq(("n", "middle"), ("q", "top")))
      .toDF("id", "label")
    val seeds = Seq(("a1", "b1", 0.95), ("a2", "b2", 0.95), ("a3", "b3", 0.95))
      .toDF("entity1", "entity2", "value")
    val out = extend.extendMappings(spark, seeds, sE, tE, sL, tL, kappa = 0.9, maxIter = 10)
      .as[(String, String, Double)].collect().toSeq
    assert(out.sorted == Seq(("m", "n", 1.0), ("p", "q", 1.0)))
    val pairs = out.map(r => (r._1, r._2))
    assert(pairs.distinct.size == pairs.size, s"duplicate pairs in $out")
    assert(pairs.intersect(Seq(("a1", "b1"), ("a2", "b2"), ("a3", "b3"))).isEmpty)
  }

  test("oneToOne: best mapping per entity per side, deterministic ties") {
    val m = Seq(
      ("s1", "t1", 0.9), ("s1", "t2", 0.8), // s1 keeps t1
      ("s2", "t1", 0.95),                   // t1 contested -> s2 wins
      ("s3", "t3", 0.7), ("s4", "t3", 0.7)  // tie on value -> s3 (asc id)
    ).toDF("entity1", "entity2", "value")
    val out = repair.oneToOne(m).select("entity1", "entity2")
      .as[(String, String)].collect().toSet
    assert(out == Set(("s2", "t1"), ("s3", "t3")))
  }

  test("dropCrosswise removes dominated inverted mappings") {
    // a -> b mapped at 0.6; parent(a)=pa mapped to child(b)=cb at 0.9
    // => (a,b) crosswise-inverted and dominated -> dropped
    val m = Seq(("a", "b", 0.6), ("pa", "cb", 0.9)).toDF("entity1", "entity2", "value")
    val sE = Seq(("a", "pa")).toDF("child_iri", "parent_iri")
    val tE = Seq(("cb", "b")).toDF("child_iri", "parent_iri")
    val out = repair.dropCrosswise(m, sE, tE)
      .select("entity1", "entity2").as[(String, String)].collect().toSet
    assert(out == Set(("pa", "cb")))
  }

  test("repair never adds rows (conservative by construction)") {
    val m = Seq(("s1", "t1", 0.9), ("s2", "t2", 0.8)).toDF("entity1", "entity2", "value")
    val sE = Seq.empty[(String, String)].toDF("child_iri", "parent_iri")
    val out = repair.repairMappings(m, sE, sE)
    assert(out.count() <= m.count())
  }

  test("deep DAG: the reference's maxIter=50 on a 50-deep chain completes with a flat plan") {
    // extend_bertmap.py:84 caps at 50 iterations; this drives the loop to
    // that depth on a 50-deep parent chain where every hop is an exact
    // label match. Without the per-iteration stage.materialize lineage cut
    // the 50th iteration's plan would nest 50 generations of self-joins —
    // analysis alone would take minutes and the plan tree would be
    // thousands of nodes deep.
    val n = 50
    val sE = (0 until n).map(i => (s"s${i + 1}", s"s$i")).toDF("child_iri", "parent_iri")
    val tE = (0 until n).map(i => (s"t${i + 1}", s"t$i")).toDF("child_iri", "parent_iri")
    val sL = (0 to n).map(i => (s"s$i", s"node $i")).toDF("id", "label")
    val tL = (0 to n).map(i => (s"t$i", s"node $i")).toDF("id", "label")
    // seed at the TOP of both chains; each iteration descends one level
    // (child x child of the frontier), so level i arrives at iteration i
    val seeds = Seq(("s0", "t0", 1.0)).toDF("entity1", "entity2", "value")
    val out = extend.extendMappings(spark, seeds, sE, tE, sL, tL,
      kappa = 0.9, maxIter = 50)
    val rows = out.as[(String, String, Double)].collect().toSet
    assert(rows == (1 to n).map(i => (s"s$i", s"t$i", 1.0)).toSet)
    // the localCheckpoint contract: the returned union reads 50 materialized
    // leaves — its plan is LINEAR in iterations (one Union over n leaves),
    // not exponential in self-join generations
    val plan = out.queryExecution.optimizedPlan
    val planLines = plan.numberedTreeString.linesIterator.size
    assert(planLines <= 3 * n + 10,
      s"expansion plan has $planLines nodes — lineage cut lost?")
    val leaves = plan.collectLeaves()
    assert(leaves.size == n && leaves.forall(
      _.getClass.getSimpleName.contains("LogicalRDD")),
      s"expected $n materialized LogicalRDD leaves, got ${leaves.map(_.getClass.getSimpleName).distinct}")
  }
}
