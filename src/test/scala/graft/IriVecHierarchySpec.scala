package graft

import org.apache.spark.sql.functions._
import graft.functions.{iri, vecagg}
import graft.operators.hierarchy

class IriVecHierarchySpec extends SparkSuite {
  import spark.implicits._

  private val prefixes = Map(
    "http://purl.org/fma/" -> "fma",
    "http://purl.org/fma/long/" -> "fmal")

  test("iri abbreviate: longest prefix wins, unmatched pass through") {
    assert(iri.abbreviate("http://purl.org/fma/long/X", prefixes) == "fmal:X")
    assert(iri.abbreviate("http://purl.org/fma/Y", prefixes) == "fma:Y")
    assert(iri.abbreviate("http://other/Z", prefixes) == "http://other/Z")
  }

  test("iri expand inverts abbreviate") {
    for (s <- Seq("http://purl.org/fma/long/X", "http://purl.org/fma/Y", "urn:z"))
      assert(iri.expand(iri.abbreviate(s, prefixes), prefixes) == s)
  }

  test("iri Column forms agree with the Scala twins") {
    val in = Seq("http://purl.org/fma/long/X", "http://purl.org/fma/Y", "urn:z").toDF("s")
    val got = in.select(
      iri.abbreviate(col("s"), prefixes).as("a"),
      iri.expand(iri.abbreviate(col("s"), prefixes), prefixes).as("r"),
      col("s"))
      .as[(String, String, String)].collect()
    got.foreach { case (a, r, s) =>
      assert(a == iri.abbreviate(s, prefixes) && r == s)
    }
  }

  test("VectorMean via mapValues gives exact means") {
    val ds = Seq(
      ("a", Array(1.0, 2.0)), ("a", Array(3.0, 4.0)), ("b", Array(5.0, 6.0))
    ).toDS().repartition(3)
    val out = ds.groupByKey(_._1).mapValues(_._2)
      .agg(vecagg.VectorMean.toColumn.name("mean"))
      .collect().toMap.map { case (k, v) => k -> v.toList }
    assert(out("a") == List(2.0, 3.0) && out("b") == List(5.0, 6.0))
  }

  test("hierarchy depth: max vs min on a multi-parent DAG") {
    //      r
    //     / \
    //    a   b
    //     \ / \
    //      c   d        c has paths r-a-c (2) and r-b-c (2); add r-c edge -> min 1
    val e = Seq(("a", "r"), ("b", "r"), ("c", "a"), ("c", "b"), ("d", "b"), ("c", "r"))
      .toDF("child_iri", "parent_iri")
    val dmax = hierarchy.depthMax(spark, e).as[(String, Long)].collect().toMap
    val dmin = hierarchy.depthMin(spark, e).as[(String, Long)].collect().toMap
    assert(dmax == Map("r" -> 0L, "a" -> 1L, "b" -> 1L, "c" -> 2L, "d" -> 2L))
    assert(dmin("c") == 1L && dmin("a") == 1L && dmin("r") == 0L)
  }

  test("hierarchy depth converges on a deep chain") {
    val e = (1 until 40).map(i => (s"n$i", s"n${i + 1}")).toDF("child_iri", "parent_iri")
    val d = hierarchy.depthMax(spark, e).as[(String, Long)].collect().toMap
    assert(d("n1") == 39L && d("n40") == 0L)
  }

  test("hierarchy depth: driver-local Kahn path ≡ distributed frontier loop") {
    val e = (Seq(("a", "r"), ("b", "r"), ("c", "a"), ("c", "b"), ("d", "b"),
      ("c", "r"), ("e", "c"), ("e", "d")) ++
      (1 until 20).map(i => (s"n$i", s"n${i + 1}")))
      .toDF("child_iri", "parent_iri")
    for (longest <- Seq(true, false)) {
      val local = hierarchy.depth(spark, e, longest)
        .as[(String, Long)].collect().toMap
      val dist = hierarchy.depthLoop(e, longest)
        .as[(String, Long)].collect().toMap
      assert(local == dist, s"longest=$longest")
    }
    // doubles are outside the route's id whitelist: the loop decides both
    val eDbl = Seq((1.0, 0.0), (2.0, 1.0), (2.0, 0.0)).toDF("child_iri", "parent_iri")
    val localD = hierarchy.depthMax(spark, eDbl).as[(Double, Long)].collect().toMap
    val distD = hierarchy.depthLoop(eDbl, longest = true)
      .as[(Double, Long)].collect().toMap
    assert(localD == distD && localD == Map(0.0 -> 0L, 1.0 -> 1L, 2.0 -> 2L))
    // cycle: Kahn cannot drain -> local path declines, distributed loop
    // decides (cycle nodes get no depth in either)
    val cyc = Seq(("x", "y"), ("y", "x"), ("z", "x"), ("a", "r"))
      .toDF("child_iri", "parent_iri")
    val d = hierarchy.depthMax(spark, cyc).as[(String, Long)].collect().toMap
    assert(d == Map("r" -> 0L, "a" -> 1L))
  }
}
