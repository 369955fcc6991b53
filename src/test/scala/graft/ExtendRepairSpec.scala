package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import graft.model.{ClassText, Edge, Turn}
import graft.operators.{extend, repair, score}
import graft.plans.Pipeline
import graft.sources.fixtures

class ExtendRepairSpec extends SparkSuite {
  import spark.implicits._

  private type M = (String, String, Double)

  /** Rows with each value as its bits, sorted: equality is bit for bit. */
  private def bits(rows: Seq[M]): Seq[(String, String, Long)] =
    rows.map(r => (r._1, r._2, java.lang.Double.doubleToRawLongBits(r._3))).sorted

  private def rowsOf(df: DataFrame): Seq[M] = df.as[M].collect().toSeq

  private def pairsOf(df: DataFrame): Seq[(String, String)] = df.as[(String, String)].collect().toSeq

  /** extend.local + repair.local against extendMappings + repairMappings
    * over the same inputs; returns (repair's input, repaired). */
  private def assertTwins(raw: DataFrame, sE: DataFrame, tE: DataFrame, sL: DataFrame,
                          tL: DataFrame, kappa: Double, maxIter: Int): (Seq[M], Seq[M]) = {
    val p = score.ScorerParams()
    val exp = extend.extendMappings(spark, raw, sE, tE, sL, tL, kappa, maxIter, p)
    val seeds = rowsOf(raw)
    val (se, te) = (pairsOf(sE), pairsOf(tE))
    val localExp = extend.local(seeds, se, te, pairsOf(sL), pairsOf(tL), kappa, maxIter, p)
    assert(bits(localExp) == bits(rowsOf(exp)), s"expansion at kappa=$kappa maxIter=$maxIter")
    val localRep = repair.local(seeds ++ localExp, se, te)
    assert(bits(localRep) == bits(rowsOf(repair.repairMappings(raw.unionByName(exp), sE, tE))),
      s"repaired at kappa=$kappa maxIter=$maxIter")
    (seeds ++ localExp, localRep)
  }

  /** The (srcEdges, tgtEdges, srcLabels, tgtLabels) frames `run` reads. */
  private def sides(classes: Dataset[ClassText], edges: Dataset[Edge]) = {
    val Seq(sE, tE) = Seq("src", "tgt").map(o =>
      edges.toDF().filter(col("onto") === o).select("child_iri", "parent_iri"))
    val Seq(sL, tL) = Seq("src", "tgt").map(Pipeline.sideLabels(classes, _))
    (sE, tE, sL, tL)
  }

  /** `Pipeline.run`'s repaired phase with `raw` kept as its mappings phase,
    * and today's distributed operators over the same inputs. */
  private def runVsDistributed(classes: Dataset[ClassText], edges: Dataset[Edge],
                               raw: DataFrame): (DataFrame, DataFrame) = {
    var viaRun: DataFrame = null
    Pipeline.run(spark, spark.emptyDataset[Turn], classes, edges, keep = (n, df) => n match {
      case "mappings" => raw
      case "repaired" => viaRun = df; df
      case _ => df
    })
    val p = Pipeline.Params()
    val (sE, tE, sL, tL) = sides(classes, edges)
    val exp = extend.extendMappings(spark, raw, sE, tE, sL, tL, p.kappa, p.maxExtendIter, p.scorer)
    (viaRun, repair.repairMappings(raw.unionByName(exp), sE, tE))
  }

  private def isLocalRelation(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  private def assertSameFrame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    assert(bits(rowsOf(got)) == bits(rowsOf(want)))
  }

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

  test("local ≡ distributed on the fixture: the twins, and run's repaired phase") {
    val cfg = fixtures.tiny
    val (classes, edges) = (fixtures.classes(spark, cfg), fixtures.edges(spark, cfg))
    var raw: DataFrame = null
    Pipeline.run(spark, spark.emptyDataset[Turn], classes, edges,
      keep = (n, df) => { if (n == "mappings") raw = df; df })
    val (sE, tE, sL, tL) = sides(classes, edges)
    val p = Pipeline.Params()
    val (in, out) = assertTwins(raw, sE, tE, sL, tL, p.kappa, p.maxExtendIter)
    info(s"fixture: ${raw.count()} raw, ${in.size} into repair, ${out.size} repaired")
    val (viaRun, dist) = runVsDistributed(classes, edges, raw)
    assert(isLocalRelation(viaRun))
    assertSameFrame(viaRun, dist)
  }

  /** A generated catalog: a multi-parent DAG of 40 classes a side with
    * repeated and multi-label classes, crosswise pairs and tied seeds. */
  private object dag {
    private val rnd = new scala.util.Random(11)
    private val n = 40
    // node i > 0 has one or two parents among the six before it; the target
    // side mirrors the source with every fifth edge rewired
    private val sEdges = (1 until n).flatMap(i =>
      rnd.shuffle((math.max(0, i - 6) until i).toList).take(1 + rnd.nextInt(2)).map(j => (i, j)))
    private val tEdges = sEdges.zipWithIndex.map { case ((c, q), k) =>
      if (k % 5 == 4 && c > 1) (c, (q + 1) % c) else (c, q) }.distinct
    // a small word pool: repeated labels give score ties, second labels
    // make the pooled mean sum several scores
    private val words = Seq("heart", "failure", "acute", "chronic", "renal", "valve", "disease", "muscle")
    private def label(i: Int) = words(i % 8) + " " + words((3 * i + 1) % 8)
    // crosswise pairs: x1 ⊑ x0 and y1 ⊑ y0, with (x0, y1) outscoring
    // (x1, y0); z1 ⊑ z0 and w1 ⊑ w0 at equal values. (up, vp), reached from
    // (uc, vc), pools three scores whose sum in label order is one ulp
    // below the ascending sum
    val sLabels: Seq[(String, String)] = (0 until n).flatMap(i => (s"s$i", label(i)) +:
      (if (i % 3 == 0) Seq((s"s$i", words((i + 2) % 8) + "_" + words(i % 8))) else Nil)) ++
      Seq(("x0", "xa"), ("x1", "xb"), ("z0", "za"), ("z1", "zb"), ("uc", "u child"),
        ("up", "failure failures"), ("up", "disease failures"), ("up", "muscle failure"))
    val tLabels: Seq[(String, String)] = (0 until n).flatMap(i =>
      (s"t$i", if (i % 4 == 3) label(i) + " syndrome" else label(i)) +:
        (if (i % 5 == 0) Seq((s"t$i", words((i + 2) % 8) + " " + words(i % 8))) else Nil)) ++
      Seq(("y0", "ya"), ("y1", "yb"), ("w0", "wa"), ("w1", "wb"), ("vc", "u child"),
        ("vp", "failures failure"))
    val seeds: Seq[M] = Seq(
      ("s39", "t39", 0.95), ("s35", "t35", 1.0), ("s0", "t0", 0.92), ("s20", "t20", 0.5),
      ("s12", "t5", 0.95), ("s13", "t5", 0.95), // many-to-one, tied
      ("s7", "t7", 0.93), ("s7", "t8", 0.93),   // one-to-many, tied
      ("s16", "t16", 0.97), ("s17", "t16", Double.NaN), // Spark orders NaN above every value
      ("x1", "y0", 0.6), ("x0", "y1", 0.9), ("z1", "w0", 0.8), ("z0", "w1", 0.8),
      ("uc", "vc", 0.95))
    lazy val sE: DataFrame = (sEdges.map { case (c, q) => (s"s$c", s"s$q") } ++
      Seq(("x1", "x0"), ("z1", "z0"), ("uc", "up"))).toDF("child_iri", "parent_iri")
    lazy val tE: DataFrame = (tEdges.map { case (c, q) => (s"t$c", s"t$q") } ++
      Seq(("y1", "y0"), ("w1", "w0"), ("vc", "vp"))).toDF("child_iri", "parent_iri")
    lazy val sL: DataFrame = sLabels.toDF("id", "label")
    lazy val tL: DataFrame = tLabels.toDF("id", "label")
    lazy val raw: DataFrame = seeds.toDF("entity1", "entity2", "value")
    /** The same DAG as `run`'s catalog inputs. */
    lazy val classes: Dataset[ClassText] = Seq("src" -> sLabels, "tgt" -> tLabels).flatMap {
      case (o, ls) => ls.groupMap(_._1)(_._2).toSeq.map { case (id, l) => ClassText(o, id, 0L, l) }
    }.toDS()
    lazy val edges: Dataset[Edge] = Seq("src" -> sE, "tgt" -> tE).flatMap { case (o, df) =>
      pairsOf(df).map { case (c, q) => Edge(o, c, q) }
    }.toDS()
  }

  test("local ≡ distributed on a generated multi-parent DAG: ties, the iteration cap, " +
    "an empty frontier, many-to-one and crosswise conflicts") {
    import dag._
    val (in, out) = assertTwins(raw, sE, tE, sL, tL, kappa = 0.9, maxIter = 50)
    // the uncapped loop runs more than one iteration and ends on an empty frontier
    val (in1, _) = assertTwins(raw, sE, tE, sL, tL, kappa = 0.9, maxIter = 1)
    assert(in1.size < in.size, "the maxIter = 1 run did not stop at the cap")
    // a low kappa keeps pooled means of several non-exact scores
    val (inLow, _) = assertTwins(raw, sE, tE, sL, tL, kappa = 0.55, maxIter = 3)
    assert(inLow.exists(m => m._3 < 0.9 && !seeds.contains(m)), "no pooled non-exact value kept")
    assert(inLow.exists(m => m._1 == "up" && m._2 == "vp"), "the three-score pool is not kept")
    // no seed reaches kappa: an empty first frontier, no expansion
    val (inNone, _) = assertTwins(raw, sE, tE, sL, tL, kappa = 1.5, maxIter = 5)
    assert(inNone.size == seeds.size)
    // repair drops rows in both steps, with ties on the top value
    val one = repair.oneToOne(in.toDF("entity1", "entity2", "value")).count()
    assert(one < in.size && out.size < one, s"${in.size} → oneToOne $one → ${out.size}")
    assert(in.groupBy(_._2).values.exists(g => g.count(_._3 == g.map(_._3).max) > 1), "no tie")
    info(s"DAG: ${in.size} into repair, $one after oneToOne, ${out.size} repaired")
    // run's route over the same DAG as a catalog
    val (viaRun, dist) = runVsDistributed(classes, edges, raw)
    assert(isLocalRelation(viaRun))
    assertSameFrame(viaRun, dist)
  }

  test("a null mapping id prints the route note and takes the distributed operators") {
    import dag._
    val withNull = raw.unionByName(Seq[(String, String, Double)]((null, "t_orphan", 0.97))
      .toDF("entity1", "entity2", "value"))
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val (viaRun, dist) =
      try runVsDistributed(classes, edges, withNull) finally System.setErr(saved)
    assert(err.toString.contains("[graft] route repaired mappings: fallback (null key"), err.toString)
    assert(viaRun.queryExecution.logical.collectLeaves().forall(
      _.getClass.getSimpleName == "LogicalRDD"), "the fallback is the materialized distributed body")
    def shown(df: DataFrame) = rowsOf(df).map(_.toString).sorted
    assert(shown(viaRun) == shown(dist))
    assert(shown(viaRun).exists(_.startsWith("(null,")))
  }

  test("reliable materialization: extendMappings + repairMappings match the local mode") {
    // run's own route is driver-local on these inputs, so this keeps the
    // loop's checkpoint-dir lineage cuts covered
    import dag._
    def repaired() = rowsOf(repair.repairMappings(raw.unionByName(
      extend.extendMappings(spark, raw, sE, tE, sL, tL, 0.9, 50)), sE, tE))
    val local = repaired()
    val dir = java.nio.file.Files.createTempDirectory("graft-chk-extend").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.materialize", "reliable")
    try {
      assert(bits(repaired()) == bits(local))
      assert(new java.io.File(dir).listFiles().nonEmpty, "no checkpoint written")
    } finally spark.conf.set("spark.graft.materialize", "local")
  }
}
