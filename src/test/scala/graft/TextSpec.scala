package graft

import java.util.Locale
import org.apache.spark.sql.functions.col
import graft.functions.text

class TextSpec extends SparkSuite {

  test("normalize: lowercase, underscores, whitespace collapse") {
    assert(text.normalize("Heart_Failure  Acute") == "heart failure acute")
    assert(text.normalize("  A_B ") == "a b")
  }

  test("normalizeLabels: order-preserving dedup, drops empties (uniqify semantics)") {
    assert(text.normalizeLabels(Seq("B_x", "", "b x", "A")) == Seq("b x", "a"))
  }

  test("wordTokens: alnum runs only") {
    assert(text.wordTokens("Heart-failure, acute!") == Seq("heart", "failure", "acute"))
    assert(text.wordTokens("") == Seq.empty)
  }

  test("normalize/wordTokens equal their Column twins under a Turkish default locale") {
    import spark.implicits._
    val s = "TITLE Index"
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      val (n, w) = Seq(s).toDF("s")
        .select(text.normalizeCol(col("s")), text.wordTokensCol(col("s")))
        .as[(String, Seq[String])].head()
      assert(text.normalize(s) == n)
      assert(text.wordTokens(s) == w)
      assert(w == Seq("title", "index"))
      // a null label is dropped and a null list is empty in both twins (the
      // Column twin's null array explodes to no rows)
      val lists = Seq(Seq("B_x", null, "b x", ""), null)
      val ls = lists.toDF("l").select(text.normalizeLabelsCol(col("l")))
        .as[Seq[String]].collect().toSeq.map(l => Option(l).getOrElse(Seq.empty))
      assert(ls == lists.map(text.normalizeLabels))
      assert(ls == Seq(Seq("b x"), Seq.empty))
    } finally Locale.setDefault(saved)
  }

  test("non-ASCII strings lowercase under the root locale in both twins, under a Turkish default locale") {
    // a non-ASCII string takes Spark's slow lowercasing path, which plain
    // `lower` runs under the JVM default locale: "I" became dotless "ı"
    import spark.implicits._
    val ss = Seq("KELVIN İSTANBUL", "Kelvin TITLE É")
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      val cols = ss.toDF("s")
        .select(text.normalizeCol(col("s")), text.wordTokensCol(col("s")))
        .as[(String, Seq[String])].collect().toSeq
      assert(cols == ss.map(s => (text.normalize(s), text.wordTokens(s))))
      assert(cols.map(_._2) == Seq(Seq("kelvin", "i", "stanbul"), Seq("kelvin", "title")))
    } finally Locale.setDefault(saved)
  }

  test("subwordTokens: head + ##continuations of length 4") {
    assert(text.subwordTokens("hyperthermia") ==
      Seq("hype", "##rthe", "##rmia"))
    assert(text.subwordTokens("ab cd") == Seq("ab", "cd"))
  }

  test("wordpiece: greedy longest-match with ## continuations, [UNK] on dead end") {
    val vocab = Set("un", "##aff", "##able", "aff", "hyper", "##ther", "##mia",
      "custom", "cust", "##er", "##omer", "s", "slo", "##low")
    // the classic BERT example
    assert(text.wordpieceWord(vocab, "unaffable") == List("un", "##aff", "##able"))
    // longest prefix wins even when a shorter decomposition also exists
    assert(text.wordpieceWord(vocab, "customer") == List("custom", "##er"))
    // NO backtracking: 'slow' -> greedy 'slo' then no '##w' -> whole word
    // [UNK], even though 's' + '##low' would have covered it
    assert(text.wordpieceWord(vocab, "slow") == List(text.WordpieceUnk))
    // no piece at position 0 at all
    assert(text.wordpieceWord(vocab, "xyz") == List(text.WordpieceUnk))
    // whole string: word-tokenize then piece each word
    assert(text.wordpieceTokens(vocab, "Unaffable customer, xyz!") ==
      Seq("un", "##aff", "##able", "custom", "##er", "[UNK]"))
  }

  test("levenshtein matches known distances") {
    assert(text.levenshtein("kitten", "sitting") == 3)
    assert(text.levenshtein("", "abc") == 3)
    assert(text.levenshtein("abc", "abc") == 0)
  }

  test("editSimilarity = 1 - dist/maxlen (nes_map.py:73-77)") {
    assert(math.abs(text.editSimilarity("kitten", "sitting") - (1.0 - 3.0 / 7)) < 1e-12)
    assert(text.editSimilarity("", "") == 1.0)
  }

  test("tokenJaccard") {
    assert(text.tokenJaccard("a b c", "b c d") == 2.0 / 4)
    assert(text.tokenJaccard("", "") == 1.0)
  }
}
