package graft

import graft.operators.corpus
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSuite {
  import spark.implicits._

  private lazy val classes = Seq(
    ("c1", Seq("aa", "bb")),
    ("c2", Seq("cc")),
    ("c3", Seq("dd", "ee", "ff"))
  ).toDF("class_iri", "labels")

  private lazy val edges = Seq(
    ("c1", "root"), ("c2", "root"), ("c3", "other")
  ).toDF("child_iri", "parent_iri")

  test("intraSynonyms: ordered distinct-label pairs per class (intra_onto.py:61-76)") {
    val out = corpus.intraSynonyms(classes)
      .select("sent1", "sent2").as[(String, String)].collect().toSet
    assert(out == Set(("aa", "bb"), ("bb", "aa"),
      ("dd", "ee"), ("ee", "dd"), ("dd", "ff"), ("ff", "dd"), ("ee", "ff"), ("ff", "ee")))
  }

  test("softNonsynonyms: seeded, never same-class, never an existing synonym") {
    val out = corpus.softNonsynonyms(classes, rate = 3, seed = 42L)
    val rows = out.select("sent1", "sent2").as[(String, String)].collect()
    assert(rows.nonEmpty)
    val syn = Set(("aa", "bb"), ("bb", "aa"), ("dd", "ee"), ("ee", "dd"),
      ("dd", "ff"), ("ff", "dd"), ("ee", "ff"), ("ff", "ee"))
    rows.foreach { r => assert(!syn.contains(r) && r._1 != r._2) }
    // determinism: same seed twice
    val again = corpus.softNonsynonyms(classes, rate = 3, seed = 42L)
      .select("sent1", "sent2").as[(String, String)].collect()
    assert(rows.sorted.toList == again.sorted.toList)
  }

  test("hardNonsynonyms: sibling-class label pairs, synonyms excluded") {
    val out = corpus.hardNonsynonyms(classes, edges)
      .select("sent1", "sent2").as[(String, String)].collect().toSet
    // siblings under root: c1 x c2 -> labels {aa,bb} x {cc}
    assert(out == Set(("aa", "cc"), ("bb", "cc"), ("cc", "aa"), ("cc", "bb")) ||
      out == Set(("aa", "cc"), ("bb", "cc"))) // direction depends on c1<c2 ordering
    // siblings c1 {x,y} and c2 {x} under root: the sibling cross pairs are
    // (x,x) [identical] and (y,x) [an intra synonym of c1] -> nothing kept
    val collide = Seq(("c1", Seq("x", "y")), ("c2", Seq("x")))
      .toDF("class_iri", "labels")
    val ed = Seq(("c1", "root"), ("c2", "root")).toDF("child_iri", "parent_iri")
    assert(corpus.hardNonsynonyms(collide, ed).count() == 0)
  }

  test("crossSynonyms: label cross product of mapped classes, both directions") {
    val maps = Seq(("c1", "t1")).toDF("entity1", "entity2")
    val tgt = Seq(("t1", Seq("xx"))).toDF("class_iri", "labels")
    val out = corpus.crossSynonyms(maps, classes, tgt)
      .select("sent1", "sent2").as[(String, String)].collect().toSet
    assert(out == Set(("aa", "xx"), ("bb", "xx"), ("xx", "aa"), ("xx", "bb")))
  }

  test("split: ratio guard + deterministic assignment") {
    val maps = (1 to 100).map(i => (s"e$i", s"f$i")).toDF("entity1", "entity2")
    val s1 = corpus.split(maps, 0.2, 0.1, 7L).groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(s1.values.sum == 100 && s1.keySet == Set("train", "val", "test"))
    intercept[IllegalArgumentException](corpus.split(maps, 0.8, 0.3, 7L))
    val s2 = corpus.split(maps, 0.2, 0.1, 7L).groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(s1 == s2)
  }

  test("downsampleNegatives: keeps exactly negRate * nSyn rows with dense global ranks") {
    val negs = (1 to 50).map(i => (s"a$i", s"b$i")).toDF("sent1", "sent2")
    val out = corpus.downsampleNegatives(negs, nSyn = 10, negRate = 2.0, seed = 3L)
    assert(out.count() == 20)
    assert(out.select("rn").as[Long].collect().sorted.toList == (1L to 20L).toList)
  }

  test("mergeCorpora: add-corpus negatives re-validated against MERGED synonyms (merged_onto.py:57-94)") {
    val base = Seq(
      ("aa", "bb", 1, "syn"), ("bb", "aa", 1, "syn"),
      ("aa", "cc", 0, "soft_neg"), ("aa", "dd", 0, "soft_neg"))
      .toDF("sent1", "sent2", "label", "kind")
    val add = Seq(
      ("aa", "cc", 1, "syn"), ("cc", "aa", 1, "syn"), // (aa,cc) becomes a synonym
      ("cc", "aa", 0, "soft_neg"),                    // violation: dropped
      ("bb", "dd", 0, "soft_neg"))                    // clean: kept
      .toDF("sent1", "sent2", "label", "kind")
    val out = corpus.mergeCorpora(base, add)
      .select("sent1", "sent2", "label").as[(String, String, Int)].collect().toSet
    val syn = out.filter(_._3 == 1).map(r => (r._1, r._2))
    val neg = out.filter(_._3 == 0).map(r => (r._1, r._2))
    assert(syn == Set(("aa", "bb"), ("bb", "aa"), ("aa", "cc"), ("cc", "aa")))
    // base negatives pass through UNCHECKED (the reference re-checks only
    // added ones) — (aa,cc) survives despite now being a synonym; the
    // added (cc,aa) is the removed violation
    assert(neg == Set(("aa", "cc"), ("aa", "dd"), ("bb", "dd")))
  }

  test("crossSoftNonsynonyms: opposite-side partners from other mappings, synonyms rejected, both directions") {
    val maps = Seq(("s1", "t1"), ("s2", "t2"), ("s3", "t3")).toDF("entity1", "entity2")
    val src = Seq(("s1", Seq("sa")), ("s2", Seq("sb")), ("s3", Seq("sc")))
      .toDF("class_iri", "labels")
    val tgt = Seq(("t1", Seq("ta")), ("t2", Seq("tb")), ("t3", Seq("tc")))
      .toDF("class_iri", "labels")
    val out = corpus.crossSoftNonsynonyms(maps, src, tgt, rate = 2, seed = 5L)
      .select("sent1", "sent2").as[(String, String)].collect().toSet
    assert(out.nonEmpty)
    // never a cross synonym of the SAME mapping: (sa,ta), (sb,tb), (sc,tc)
    val syn = Set(("sa", "ta"), ("ta", "sa"), ("sb", "tb"), ("tb", "sb"), ("sc", "tc"), ("tc", "sc"))
    out.foreach(p => assert(!syn.contains(p), s"synonym pair $p leaked into negatives"))
    // backward pairs present
    out.foreach(p => assert(out.contains((p._2, p._1)), s"missing backward pair for $p"))
    // partition-invariant
    val again = corpus.crossSoftNonsynonyms(maps.repartition(7), src.repartition(5), tgt, 2, 5L)
      .select("sent1", "sent2").as[(String, String)].collect().toSet
    assert(out == again)
  }

  test("assembleSplits: neg-rate application + train/val + id-synonym variants (merged_onto.py:96-147)") {
    val syn = (1 to 20).map(i => (s"s$i", s"y$i", 1, "syn"))
    val ids = (1 to 10).map(i => (s"i$i", s"i$i", 1, "id_syn"))
    val soft = (1 to 80).map(i => (s"n$i", s"m$i", 0, "soft_neg"))
    val hard = (1 to 40).map(i => (s"h$i", s"g$i", 0, "hard_neg"))
    val long = (syn ++ ids ++ soft ++ hard).toDF("sent1", "sent2", "label", "kind")
    val out = corpus.assembleSplits(long, softNegRate = 1.0, hardNegRate = 1.0,
      valRatio = 0.2, seed = 9L).cache()
    val bySplit = out.groupBy("split").count().as[(String, Long)].collect().toMap
    // base variant: 20 syn + 20 soft + 20 hard = 60 rows across train/val
    assert(bySplit.getOrElse("train", 0L) + bySplit.getOrElse("val", 0L) == 60L)
    // id variant: 10 ids + 10 soft + 10 hard = 30 rows across train_ids/val_ids
    assert(bySplit.getOrElse("train_ids", 0L) + bySplit.getOrElse("val_ids", 0L) == 30L)
    assert(bySplit.keySet == Set("train", "val", "train_ids", "val_ids"))
    // train+ materialization: union of train and train_ids, deduped
    val trainPlus = out.filter($"split".isin("train", "train_ids"))
      .select("sent1", "sent2").distinct().count()
    assert(trainPlus <= bySplit("train") + bySplit("train_ids"))
    assert(trainPlus > 0)
    // deterministic
    val again = corpus.assembleSplits(long.repartition(7), 1.0, 1.0, 0.2, 9L)
      .select("sent1", "sent2", "split").as[(String, String, String)].collect().sorted
    assert(out.select("sent1", "sent2", "split").as[(String, String, String)]
      .collect().sorted.toList == again.toList)
  }

  test("hardNonsynonyms: depth_threshold skips deep parents (intra_onto.py:115-119)") {
    // root(depth 0) -> c1, c2 ; c1(depth 1) -> d1, d2 — siblings under c1
    // are excluded at depthThreshold=0
    val deepEdges = Seq(("c1", "root"), ("c2", "root"), ("d1", "c1"), ("d2", "c1"))
      .toDF("child_iri", "parent_iri")
    val cls = Seq(("c1", Seq("l c1")), ("c2", Seq("l c2")), ("d1", Seq("l d1")),
      ("d2", Seq("l d2")), ("root", Seq("l root")))
      .toDF("class_iri", "labels")
    val depths = graft.operators.hierarchy.depthMax(spark, deepEdges)
    val all = corpus.hardNonsynonyms(cls, deepEdges)
      .select("sent1", "sent2").as[(String, String)].collect().toSet
    assert(all.contains(("l c1", "l c2")) && all.contains(("l d1", "l d2")))
    val shallow = corpus.hardNonsynonyms(cls, deepEdges, depthThreshold = 0,
        parentDepths = Some(depths))
      .select("sent1", "sent2").as[(String, String)].collect().toSet
    assert(shallow.contains(("l c1", "l c2")))
    assert(!shallow.exists(p => p._1 == "l d1" || p._1 == "l d2"),
      "siblings under a depth-1 parent must be skipped at threshold 0")
  }

  test("softNonsynonymViolations: kept + violations = rate x labels; each violation fails the check (intra_onto.py:99-106)") {
    // c2 shares label "aa" with c1 -> identical-label and synonym violations
    // are reachable ( (bb,aa) draw hits c1's intra synonym set )
    val cls = Seq(
      ("c1", Seq("aa", "bb")),
      ("c2", Seq("aa")),
      ("c3", Seq("dd", "ee"))
    ).toDF("class_iri", "labels")
    val rate = 4
    val kept = corpus.softNonsynonyms(cls, rate, seed = 11L)
    val viol = corpus.softNonsynonymViolations(cls, rate, seed = 11L)
    // total draws = rate per (class, label) occurrence = 4 * 5 labels
    assert(kept.count() + viol.count() == rate * 5L)
    // every violation is identical-label or an existing synonym pair
    val syn = Set(("aa", "bb"), ("bb", "aa"), ("dd", "ee"), ("ee", "dd"))
    viol.select("sent1", "sent2").as[(String, String)].collect().foreach { p =>
      assert(p._1 == p._2 || syn.contains(p), s"non-violation $p in violations")
    }
    assert(viol.filter($"kind" =!= "soft_neg_violation").count() == 0)
    // deterministic + partition-invariant
    val again = corpus.softNonsynonymViolations(cls.repartition(7), rate, 11L)
    assert(viol.count() == again.count())
  }

  test("requireDim: oversized dimension fails loudly instead of single-task sorting") {
    val big = spark.range(corpus.maxDim + 1)
      .select(concat(lit("c"), $"id").as("class_iri"), array(lit("l")).as("labels"))
    val e = intercept[IllegalArgumentException](
      corpus.softNonsynonyms(big, rate = 1, seed = 1L))
    assert(e.getMessage.contains("maxDim"))
  }

  test("counters: per-kind counts") {
    val c = Seq(("a", "b", 1, "syn"), ("c", "d", 0, "soft_neg"), ("e", "f", 0, "soft_neg"))
      .toDF("sent1", "sent2", "label", "kind")
    val m = corpus.counters(c).as[(String, Long)].collect().toMap
    assert(m == Map("syn" -> 1L, "soft_neg" -> 2L))
  }
}
