package graft

import graft.operators.canonical

class CanonicalSpec extends SparkSuite {
  import spark.implicits._

  test("connectedComponents: chain + isolate pair, min-label canonical") {
    val e = Seq(("b", "a"), ("b", "c"), ("d", "e"))
      .toDF("entity1", "entity2")
    val out = canonical.connectedComponents(spark, e)
      .as[(String, String)].collect().toMap
    assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d", "e" -> "d"))
  }

  test("connectedComponents converges on a long chain within log iterations") {
    val n = 32
    val e = (1 until n).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("entity1", "entity2")
    val out = canonical.connectedComponents(spark, e, maxIter = 10)
      .as[(String, String)].collect().toMap
    assert(out.values.toSet == Set("n01") && out.size == n)
  }

  test("connectedComponents: driver-local fast path ≡ distributed loop (strings and longs)") {
    // mixed shapes: chain, triangle, isolate pair, star
    val eStr = (Seq(("b", "a"), ("b", "c"), ("d", "e"), ("f", "g"), ("g", "h"),
      ("h", "f"), ("z1", "z9"), ("z2", "z9"), ("z3", "z9")))
      .toDF("entity1", "entity2")
    val local = canonical.connectedComponents(spark, eStr)
      .as[(String, String)].collect().toMap
    val dist = canonical.connectedComponentsLoop(spark, canonical.undirected(eStr), 20)
      .as[(String, String)].collect().toMap
    assert(local == dist)
    val eLong = Seq((2L, 1L), (2L, 3L), (10L, 11L), (100L, 11L))
      .toDF("entity1", "entity2")
    val localL = canonical.connectedComponents(spark, eLong)
      .as[(Long, Long)].collect().toMap
    val distL = canonical.connectedComponentsLoop(spark, canonical.undirected(eLong), 20)
      .as[(Long, Long)].collect().toMap
    assert(localL == distL)
    // doubles are outside the route's id whitelist: the loop decides both
    val eDbl = Seq((2.0, 1.0), (2.0, 3.0), (10.0, 11.0)).toDF("entity1", "entity2")
    val localD = canonical.connectedComponents(spark, eDbl)
      .as[(Double, Double)].collect().toMap
    val distD = canonical.connectedComponentsLoop(spark, canonical.undirected(eDbl), 20)
      .as[(Double, Double)].collect().toMap
    assert(localD == distD && localD(3.0) == 1.0 && localD(11.0) == 10.0)
  }

  test("canonicalize rewrites endpoints to representatives") {
    val comps = Seq(("x", "a"), ("y", "a")).toDF("id", "canonical")
    val m = Seq(("x", "y", 0.9), ("z", "x", 0.8)).toDF("entity1", "entity2", "value")
    val out = canonical.rewrite(m, comps, "entity1", "entity2")
      .as[(String, String, Double)].collect().toSet
    assert(out == Set(("a", "a", 0.9), ("z", "a", 0.8)))
  }

  test("triples: three predicates assembled with scores") {
    val sameAs = Seq(("s", "t", 0.9)).toDF("entity1", "entity2", "value")
    val mens = Seq(("conv-1", 2, "src", "s", "alpha"))
      .toDF("conv_id", "turn_idx", "onto", "class_iri", "surface")
    val broader = Seq(("c", "p")).toDF("child_iri", "parent_iri")
    val out = canonical.triples(sameAs, mens, broader)
      .as[(String, String, String, Double)].collect().toSet
    assert(out == Set(
      ("s", "sameAs", "t", 0.9),
      ("conv-1#2", "mentions", "s", 1.0),
      ("c", "broader", "p", 1.0)))
  }
}
