package graft

import graft.operators.vocab
import graft.functions.text

class VocabSpec extends SparkSuite {
  import spark.implicits._

  private val classicHist = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("initSymbols / mergeAdjacent kernels") {
    assert(vocab.initSymbols("low") == Seq("l", "##o", "##w"))
    assert(vocab.initSymbols("") == Seq.empty)
    assert(vocab.mergeAdjacent(Seq("n", "##e", "##w", "##e", "##s", "##t"), "##e", "##s") ==
      Seq("n", "##e", "##w", "##es", "##t"))
    // left-to-right, non-overlapping: a ##a ##a with (a, ##a) merges the
    // FIRST pair only
    assert(vocab.mergeAdjacent(Seq("a", "##a", "##a"), "a", "##a") ==
      Seq("aa", "##a"))
  }

  test("learnMerges: the classic BPE example with explicit tie-breaks") {
    val hist = classicHist.toDF("word", "cnt")
    val merges = vocab.learnMerges(spark, hist, 3)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toList
    // round 1: (##e,##s) and (##s,##t) tie at 9 -> left-asc tie-break
    // round 2: (##es,##t) at 9
    // round 3: (l,##o) and (##o,##w) tie at 7 -> '#' < 'l'
    assert(merges == List(
      (1, "##e", "##s", "##es", 9L),
      (2, "##es", "##t", "##est", 9L),
      (3, "##o", "##w", "##ow", 7L)))
  }

  test("learnMerges is partition-invariant") {
    val hist = (classicHist ++ Seq(("slowest", 4L), ("low", 1L))).toDF("word", "cnt")
    def run(parts: Int) = vocab.learnMerges(spark, hist.repartition(parts), 6)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toList
    assert(run(1) == run(7))
  }

  test("induced vocab drives wordpieceTokensCol: greedy reproduces the BPE segmentation") {
    val hist = classicHist.toDF("word", "cnt")
    val merges = vocab.learnMerges(spark, hist, 3)
    val v = vocab.vocabFrom(spark, hist, merges)
    assert(v.contains("##est") && v.contains("##es") && v.contains("##ow"))
    // BPE-apply 'newest' with merges [##es, ##est, ##ow]:
    //   n ##e ##w ##e ##s ##t -> n ##e ##w ##es ##t -> n ##e ##w ##est
    // greedy longest-match over the induced piece set lands the same
    assert(text.wordpieceTokens(v, "newest") == Seq("n", "##e", "##w", "##est"))
    assert(text.wordpieceTokens(v, "low") == Seq("l", "##ow"))
    // characters outside the histogram's alphabet -> whole-word [UNK]
    assert(text.wordpieceTokens(v, "xyz") == Seq(text.WordpieceUnk))
  }

  test("driver-local merge loop ≡ distributed loop (incl. early stop)") {
    // a histogram with ties, repeats-within-word, multi-char growth and an
    // exhaustion point; learnMergesLoop is the distributed path
    val hist = (classicHist ++ Seq(
      ("slowest", 4L), ("lowly", 3L), ("aaaa", 2L), ("banana", 2L), ("q", 9L)))
      .toDF("word", "cnt")
    val local = vocab.learnMerges(spark, hist, 40)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toList
    val dist = vocab.learnMergesLoop(spark, hist, 40, vocab.MinCount)
      .sortBy(_._1).toList
    assert(local == dist, s"paths diverge:\nlocal=$local\ndist =$dist")
    assert(local.nonEmpty && local.size < 40) // early stop exercised
  }

  test("utf8Lt matches Spark's binary string ordering on awkward cases") {
    // supplementary-plane chars sort ABOVE ￿ in UTF-8 bytes but BELOW
    // it in UTF-16 code units — the case that breaks String.compareTo
    val cases = Seq("a", "ab", "##a", "￿", "😀" /* 😀 */, "zé", "")
    for (x <- cases; y <- cases) {
      // expected = what Spark's orderBy actually does on this pair
      val sorted = Seq(x, y).toDF("s").orderBy($"s").as[String].collect().toList
      val expectLt = x != y && sorted == List(x, y)
      assert(vocab.utf8Lt(x, y) == expectLt, s"utf8Lt('$x','$y')")
    }
  }

  test("wordHistogram: one transcript-proportional aggregation") {
    val docs = Seq((1L, "low low newest"), (2L, "newest!")).toDF("doc_id", "text")
    val h = vocab.wordHistogram(docs, "text")
      .as[(String, Long)].collect().toMap
    assert(h == Map("low" -> 2L, "newest" -> 2L))
  }
}
