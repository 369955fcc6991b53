package graft

import java.sql.Timestamp
import graft.model._
import graft.operators.mentions
import graft.sources.fixtures

class MentionsSpec extends SparkSuite {
  import spark.implicits._

  private val classes = Seq(
    ClassText("src", "src:C1", 0L, Seq("heart failure")),
    ClassText("src", "src:C2", 1L, Seq("heart")),
    ClassText("src", "src:C3", 2L, Seq("failure")))

  test("surfaceDict maps normalized surfaces to entity lists") {
    val d = mentions.surfaceDict(classes)
    assert(d("heart failure") == Seq(("src", "src:C1")))
    assert(d.keySet == Set("heart failure", "heart", "failure"))
  }

  test("detectInText: longest match wins, scan continues after match") {
    val d = mentions.surfaceDict(classes)
    val out = mentions.detectInText(d, "patient has Heart Failure and heart issues")
    assert(out.contains(("src", "src:C1", "heart failure")))
    assert(out.contains(("src", "src:C2", "heart")))       // the second 'heart'
    assert(!out.contains(("src", "src:C3", "failure")))    // consumed by longest match
  }

  test("detect over a Dataset[Turn] keeps conv/turn keys") {
    val turns = Seq(
      Turn("c1", 0, "user", "tell me about heart failure", null, new Timestamp(0L)),
      Turn("c1", 1, "assistant", "nothing relevant here", null, new Timestamp(1L)))
      .toDS()
    val out = mentions.detect(spark, turns, classes).collect()
    assert(out.length == 1)
    assert(out.head == Mention("c1", 0, "src", "src:C1", "heart failure"))
  }

  test("fixture transcripts embed detectable surface forms") {
    val cfg = fixtures.tiny
    val turns = fixtures.transcripts(spark, cfg)
    val cls = fixtures.classes(spark, cfg).filter(_.onto == "src").collect().toSeq
    val n = mentions.detect(spark, turns, cls).count()
    assert(n > 0)
  }

  test("detectJoin: distributed n-gram join kernel produces the same mention set as the trie") {
    val cfg = fixtures.tiny
    val turns = fixtures.transcripts(spark, cfg)
    val clsDs = fixtures.classes(spark, cfg).filter(_.onto == "src")
    val trie = mentions.detect(spark, turns, clsDs.collect().toSeq)
      .collect().toSet
    val joined = mentions.detectJoin(spark, turns, clsDs).collect().toSet
    assert(trie.nonEmpty)
    assert(joined == trie,
      s"join kernel diverged: only-trie=${(trie -- joined).take(5)} " +
        s"only-join=${(joined -- trie).take(5)}")
  }

  test("detectJoin: greedy longest-match semantics (consumed spans skipped)") {
    val turns = Seq(
      Turn("c1", 0, "user", "patient has Heart Failure and heart issues", null, new Timestamp(0L)))
      .toDS()
    val out = mentions.detectJoin(spark, turns, classes.toDS()).collect().toSet
    assert(out.contains(Mention("c1", 0, "src", "src:C1", "heart failure")))
    assert(out.contains(Mention("c1", 0, "src", "src:C2", "heart"))) // 2nd heart
    assert(!out.exists(_.class_iri == "src:C3")) // 'failure' consumed
  }

  test("detectJoin: surfaces longer than the old 4-token cap still match (maxWords derived from dict)") {
    // regression: the join kernel previously capped n-grams at 4 tokens
    // while the trie matches any length — a 5-token surface was silently
    // dropped by linker=join, changing results vs linker=trie
    val cls = Seq(
      ClassText("src", "src:L1", 0L, Seq("acute on chronic heart failure syndrome")),
      ClassText("src", "src:L2", 1L, Seq("heart")))
    val turns = Seq(
      Turn("c1", 0, "user",
        "diagnosis acute on chronic heart failure syndrome confirmed", null,
        new Timestamp(0L))).toDS()
    val joined = mentions.detectJoin(spark, turns, cls.toDS()).collect().toSet
    val trie = mentions.detect(spark, turns, cls).collect().toSet
    assert(joined.contains(
      Mention("c1", 0, "src", "src:L1", "acute on chronic heart failure syndrome")))
    assert(joined == trie)
  }

  test("trie and join linkers agree on non-ASCII turn text (Unicode lowercasing)") {
    // U+212A KELVIN SIGN lowercases to "k", U+0130 to "i" + U+0307: the
    // dictionary side and the join linker lowercase all of Unicode, so the
    // trie's turn scanner must too. A null label list and a null label are
    // no surface in either linker.
    val cls = Seq(
      ClassText("src", "src:K", 0L, Seq("kelvin scale")),
      ClassText("src", "src:I", 1L, Seq("\u0130stanbul")),
      ClassText("src", "src:N", 2L, null),
      ClassText("src", "src:E", 3L, Seq(null, "kelvin scale")))
    val turns = Seq(
      Turn("c1", 0, "user", "the \u212Aelvin scale in \u0130stanbul", null,
        new Timestamp(0L))).toDS()
    val trie = mentions.detect(spark, turns, cls).collect().toSet
    val joined = mentions.detectJoin(spark, turns, cls.toDS()).collect().toSet
    assert(trie == joined, s"trie=$trie join=$joined")
    assert(trie.map(_.class_iri) == Set("src:K", "src:I", "src:E"))
  }

  test("stabilize: output columns are exactly the key plus mention_ord") {
    val df = Seq(("c1", 0, "src", "e1", "s", new Timestamp(500L)),
      ("c1", 0, "src", "e1", "s", new Timestamp(100L)))
      .toDF("conv_id", "turn_idx", "onto", "class_iri", "surface", "ts")
    val out = mentions.stabilize(df)
    assert(out.columns.toSeq ==
      Seq("conv_id", "turn_idx", "onto", "class_iri", "surface", "mention_ord"))
    assert(out.count() == 1)
  }

  test("stabilize: two distinct surfaces for one (turn, entity) collapse to min(surface) deterministically") {
    val mens = Seq(
      // same (conv, turn, onto, entity) matched via two different surfaces
      ("c1", 0, "src", "e1", "zeta form"),
      ("c1", 0, "src", "e1", "alpha form"),
      ("c1", 1, "src", "e2", "other"))
      .toDF("conv_id", "turn_idx", "onto", "class_iri", "surface")
    def run(parts: Int) = mentions.stabilize(mens.repartition(parts))
      .select("conv_id", "turn_idx", "class_iri", "surface", "mention_ord")
      .as[(String, Int, String, String, Int)].collect().sorted.toList
    val a = run(2)
    val b = run(7)
    assert(a == b)
    assert(a.find(_._3 == "e1").get._4 == "alpha form") // min(surface) survives
    assert(a.map(_._5).sorted == List(1, 2))
  }

  test("stabilize: dense per-conversation ordinals, partition-invariant") {
    import org.apache.spark.sql.functions._
    val mens = Seq(
      ("c1", 1, "src", "e2", "x"), ("c1", 0, "src", "e1", "y"),
      ("c1", 1, "src", "e2", "x"), // duplicate evidence collapses
      ("c2", 0, "src", "e1", "y"))
      .toDF("conv_id", "turn_idx", "onto", "class_iri", "surface")
    val a = mentions.stabilize(mens.repartition(7))
      .select("conv_id", "turn_idx", "class_iri", "mention_ord")
      .as[(String, Int, String, Int)].collect().toSet
    val b = mentions.stabilize(mens.repartition(2))
      .select("conv_id", "turn_idx", "class_iri", "mention_ord")
      .as[(String, Int, String, Int)].collect().toSet
    assert(a == b)
    assert(a == Set(("c1", 0, "e1", 1), ("c1", 1, "e2", 2), ("c2", 0, "e1", 1)))
  }
}
