package graft

import org.apache.spark.sql.functions._
import graft.operators.{align, score}

class ScoreAlignSpec extends SparkSuite {
  import spark.implicits._

  test("scorePair: exact match short-circuits to 1.0; blend in [0,1]") {
    val p = score.ScorerParams()
    assert(score.scorePair(p, "Heart_Failure", "heart failure") == 1.0)
    val s = score.scorePair(p, "heart failure", "heart attack")
    assert(s > 0.0 && s < 1.0)
  }

  test("scoreLabelPairsTyped: mapPartitions scorer appends pair_score") {
    val pairs = Seq((1L, 2L, "heart failure", "heart failure"),
      (1L, 3L, "heart failure", "renal disease"))
      .toDF("from_id", "to_id", "l1", "l2")
    val m = score.scoreLabelPairsTyped(spark, pairs)
      .select("to_id", "pair_score").as[(String, Double)].collect()
      .map { case (k, v) => (k.toLong, v) }.toMap
    assert(m(2L) == 1.0 && m(3L) < 0.5)
  }

  test("stringMatchSplit: matched from-classes abandon remaining candidates") {
    val cands = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("from_id", "to_id")
    val fl = Seq((1L, "alpha"), (2L, "beta")).toDF("from_id", "label")
    val tl = Seq((10L, "alpha"), (11L, "alpha")).toDF("to_id", "label")
    val (matched, remaining) = score.stringMatchSplit(cands, fl, tl)
    val mset = matched.select("from_id", "to_id").as[(Long, Long)].collect().toSet
    // from 1 matches both 10 and 11 (both carry 'alpha')
    assert(mset == Set((1L, 10L), (1L, 11L)))
    // from 1 is fully removed from the scoring side; from 2 stays
    val r = remaining.select("from_id", "to_id").as[(Long, Long)].collect().toSet
    assert(r == Set((2L, 10L)))
  }

  test("pool mean vs max (batch_pooling semantics)") {
    val scored = Seq((1L, 2L, 0.2), (1L, 2L, 0.8), (1L, 3L, 0.5))
      .toDF("from_id", "to_id", "pair_score")
    val mean = score.pool(scored, "mean").as[(Long, Long, Double)].collect().toSet
    val mx = score.pool(scored, "max").as[(Long, Long, Double)].collect().toSet
    assert(mean.contains((1L, 2L, 0.5)) && mx.contains((1L, 2L, 0.8)))
    intercept[IllegalArgumentException](score.pool(scored, "median"))
  }

  test("clamp: scores <= 0.01 -> 0.0 (bert_classifier_map.py:83-84)") {
    val m = Seq((1L, 0.01), (2L, 0.011)).toDF("id", "score")
    val out = score.clamp(m).as[(Long, Double)].collect().toMap
    assert(out(1L) == 0.0 && out(2L) == 0.011)
  }

  test("nBest: keeps n per from-class with (score desc, to asc) tie-break") {
    val scored = Seq(
      (1L, 5L, 0.9), (1L, 3L, 0.9), (1L, 4L, 0.8),
      (2L, 9L, 0.1)).toDF("from_id", "to_id", "score")
    val out = align.nBest(scored, 1).select("from_id", "to_id")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 3L), (2L, 9L))) // tie at 0.9 -> lower to_id
  }

  test("combine: union + dedup keeps max value, drops nulls (onto_map.py:146)") {
    val a = Seq(("x", "y", 0.7), ("x", "z", 0.4)).toDF("entity1", "entity2", "value")
    val b = Seq(("x", "y", 0.9)).toDF("entity1", "entity2", "value")
    val out = align.combine(a, b).as[(String, String, Double)].collect().toSet
    assert(out == Set(("x", "y", 0.9), ("x", "z", 0.4)))
  }

  test("atThreshold filters on value") {
    val a = Seq(("x", "y", 0.7), ("x", "z", 0.4)).toDF("entity1", "entity2", "value")
    assert(align.atThreshold(a, 0.5).count() == 1)
  }

  test("embeds mode via rawMappings: class-embedding mean + IDF candidates + cosine") {
    import graft.plans.Pipeline
    // src class s1 and tgt class t1 share a label text -> cosine 1.0 top
    val src = Seq(("s1", "acute heart failure"), ("s1", "cardiac failure"),
      ("s2", "kidney stone")).toDF("id", "label")
    val tgt = Seq(("t1", "acute heart failure"), ("t2", "renal calculus stone"))
      .toDF("id", "label")
    // a vocab of every label word: the index tokenizes whole words
    val words = src.union(tgt).select("label").as[String].collect()
      .flatMap(graft.functions.text.wordTokens).toSet
    val p = Pipeline.Params(mode = "embeds", candidateLimit = 5, wordpieceVocab = Some(words))
    val out = align.atThreshold(Pipeline.rawMappings(spark, src, tgt, p), 0.1)
      .select("entity1", "entity2", "value").as[(String, String, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out.contains(("s1", "t1")))
    assert(out.contains(("s2", "t2"))) // shared 'stone' token -> candidate + positive cosine
    // Scala oracle: cosine of (mean of s1's label vectors, t1's vector)
    def emb(s: String) = graft.operators.score.embedKernel(s, 64).map(_.toDouble)
    val s1 = emb("acute heart failure").zip(emb("cardiac failure")).map(p => (p._1 + p._2) / 2)
    val t1 = emb("acute heart failure")
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    assert(math.abs(out(("s1", "t1")) - cos(s1, t1)) < 1e-9)
    assert(out(("s1", "t1")) > out(("s2", "t2")))
  }

  test("pairScoreCol (codegen'd Column kernel) agrees with the batched scorer kernel") {
    import graft.operators.score
    val pairs = Seq(
      ("heart failure", "heart failure"),          // exact -> 1.0
      ("acute heart failure", "heart failure"),
      ("kidney stone", "renal calculus"),
      ("Severe_Asthma", "severe asthma"),          // normalization collapses
      ("", "x"), ("a b c", "c b a"))
      .toDF("l1", "l2")
    val colScores = pairs
      .select($"l1", $"l2", score.pairScoreCol($"l1", $"l2").as("s"))
      .as[(String, String, Double)].collect()
    colScores.foreach { case (a, b, s) =>
      val expected = score.scorePair(score.ScorerParams(), a, b)
      assert(math.abs(s - expected) < 1e-12, s"($a, $b): col=$s kernel=$expected")
    }
  }

  test("nes.alignOneSide: NES-mode mapping, exact label match tops") {
    import graft.operators.nes
    val from = Seq(("s1", "acute heart failure"), ("s2", "kidney stone"))
      .toDF("id", "label")
    val to = Seq(("t1", "acute heart failure"), ("t2", "renal kidney calculus stone"))
      .toDF("id", "label")
    val out = nes.alignOneSide(from, to, d = 2, candidateLimit = 5, nbest = 1)
      .select("from_id", "to_id", "score").as[(String, String, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out("s1") == ("t1", 1.0))
    assert(out("s2")._1 == "t2" && out("s2")._2 > 0.0 && out("s2")._2 < 1.0)
  }

  test("nes.alignOneSide pure-NES fidelity: jaccardWeight=0 reproduces max_norm_edit_sim exactly (nes_map.py:73-77)") {
    import graft.operators.nes
    // token-permuted labels: Jaccard 1.0 but NES low — the pair that
    // separates the blended kernel from the reference's pure edit score
    val from = Seq(("s1", "beta alpha"), ("s2", "kidney stone"))
      .toDF("id", "label")
    val to = Seq(("t1", "alpha beta"), ("t2", "kidney stones"))
      .toDF("id", "label")
    def nesOf(a0: String, b0: String): Double = {
      val (a, b) = (graft.functions.text.normalize(a0), graft.functions.text.normalize(b0))
      1.0 - graft.functions.text.levenshtein(a, b).toDouble / math.max(a.length, b.length)
    }
    val pure = nes.alignOneSide(from, to, d = 2, candidateLimit = 5, nbest = 1,
        jaccardWeight = 0.0, editWeight = 1.0)
      .select("from_id", "to_id", "score").as[(String, String, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    // "beta alpha" vs "alpha beta": lev = 8 over len 10 -> NES 0.2, NOT the
    // blended 0.6 (= 0.5*1.0 + 0.5*0.2)
    assert(pure("s1")._1 == "t1")
    assert(math.abs(pure("s1")._2 - nesOf("beta alpha", "alpha beta")) < 1e-12)
    assert(math.abs(pure("s2")._2 - nesOf("kidney stone", "kidney stones")) < 1e-12)
    val blended = nes.alignOneSide(from, to, d = 2, candidateLimit = 5, nbest = 1)
      .select("from_id", "score").as[(String, Double)].collect().toMap
    assert(blended("s1") > pure("s1")._2, "blended kernel must add the Jaccard term")
  }

  test("embedSentences: deterministic, L2-normalized, cosine-ready") {
    val df = Seq((1L, "heart failure"), (2L, "heart failure"), (3L, "kidney stone"))
      .toDF("id", "txt")
    val out = graft.operators.score.embedSentences(spark, df, "id", "txt", dim = 16)
      .as[(String, Array[Float])].collect().toMap
    assert(out("1").toList == out("2").toList)        // pure function of text
    val n = math.sqrt(out("1").map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1.0) < 1e-5)                  // unit norm
    val dot = out("1").zip(out("3")).map { case (a, b) => a * b }.sum
    assert(dot < 0.99)                                // different texts differ
  }
}
