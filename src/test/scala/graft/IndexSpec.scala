package graft

import org.apache.spark.sql.functions._
import graft.operators.index

class IndexSpec extends SparkSuite {
  import spark.implicits._

  private lazy val classes = Seq(
    (1L, Seq("heart failure")),
    (2L, Seq("heart attack")),
    (3L, Seq("kidney failure", "renal failure"))
  ).toDF("cid", "labels")

  /** Postings of a (cid, labels: array) table: the labels in long form,
    * then `index.postingsFromText`. */
  private def postings(classes: org.apache.spark.sql.DataFrame, cut: Int = 0,
                       tok: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
                         graft.functions.text.wordTokensCol) =
    index.postingsFromText(classes.select(col("cid"), explode(col("labels")).as("label")),
      "cid", "label", cut, tok)

  test("postings: explode + tokenize + distinct per class") {
    val p = postings(classes)
      .as[(Long, String)].collect().toSet
    assert(p == Set(
      (1L, "heart"), (1L, "failure"),
      (2L, "heart"), (2L, "attack"),
      (3L, "kidney"), (3L, "failure"), (3L, "renal")))
  }

  test("postings honor the length cut (onto_index.py:55-58)") {
    val p = postings(Seq((1L, Seq("a bb ccc"))).toDF("cid", "labels"), cut = 2)
    assert(p.select("token").as[String].collect().toSet == Set("ccc"))
  }

  test("docFreq counts classes per token") {
    val df = index.docFreq(postings(classes))
      .as[(String, Long)].collect().toMap
    assert(df("heart") == 2 && df("failure") == 2 && df("renal") == 1)
  }

  test("idfCandidates: summed-IDF ranking with deterministic tie-break") {
    val posting = postings(classes)
    val q = Seq((10L, "heart"), (10L, "failure")).toDF("query_id", "token")
    val out = index.idfCandidates(q, posting, totalDocs = 3, limit = 2)
      .select("query_id", "class_id").as[(Long, Long)].collect().toList
    // class 1 shares heart+failure (idf sum = 2*log10(1.5));
    // classes 2,3 share one token each (log10(1.5)) -> tie broken by id asc
    assert(out == List((10L, 1L), (10L, 2L)))
  }

  test("unique rare token dominates common token (idf ordering)") {
    val posting = postings(classes)
    val q = Seq((7L, "renal"), (7L, "heart")).toDF("query_id", "token")
    val top = index.idfCandidates(q, posting, 3, 1)
      .select("class_id").as[Long].head()
    assert(top == 3L) // idf(renal)=log10(3) > idf(heart)=log10(1.5)
  }

  test("salted aggregation produces identical results to unsalted") {
    val posting = postings(classes)
    val q = Seq((1L, "heart"), (1L, "failure"), (2L, "renal"), (2L, "heart"))
      .toDF("query_id", "token")
    // both IDF weights: the salted join serves the fixed-point one too
    for (fixedPointIdf <- Seq(false, true)) {
      def cands(salt: Int) =
        index.idfCandidates(q, posting, 3, 3, saltBuckets = salt, fixedPointIdf = fixedPointIdf)
          .orderBy("query_id", "class_id")
          .select("query_id", "class_id", "idf_w", "rank").collect().toList
      val (a, b) = (cands(1), cands(8))
      assert(a == b && a.nonEmpty, s"fixedPointIdf=$fixedPointIdf")
    }
  }

  test("maxDfFrac drops stop-tokens from scoring") {
    val posting = postings(classes)
    // 'heart'/'failure' have df=2 of 3 docs = 0.67 > 0.5 -> dropped
    val q = Seq((9L, "heart"), (9L, "renal")).toDF("query_id", "token")
    val out = index.idfCandidates(q, posting, 3, 5, maxDfFrac = 0.5)
      .select("class_id").as[Long].collect().toSet
    assert(out == Set(3L))
  }

  test("sub-word postings: morphological variants share head-piece postings (onto_index.py:46-47)") {
    import graft.functions.text
    // word-level postings: 'cardiomyopathy' vs 'cardiomegaly' share nothing
    val cls = Seq((1L, Seq("cardiomyopathy")), (2L, Seq("cardiomegaly")))
      .toDF("cid", "labels")
    val word = postings(cls)
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(word(1L).intersect(word(2L)).isEmpty)
    // sub-word postings: both split to head piece 'card' (+ continuations)
    val sub = postings(cls, 0, c => text.subwordTokensCol(c))
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sub(1L).intersect(sub(2L)).contains("card"))
    // Column tokenizer agrees with the plain-Scala twin exactly
    assert(sub(1L) == text.subwordTokens("cardiomyopathy").toSet)
    assert(text.subwordTokens("cardiomyopathy") ==
      Seq("card", "##iomy", "##opat", "##hy"))
  }

  test("wordpiece postings: Column tokenizer over a broadcast vocab equals the plain-Scala kernel") {
    import graft.functions.text
    val vocab = Set("card", "##iomy", "##opathy", "##opat", "##hy", "##iome",
      "##galy", "acute")
    val cls = Seq((1L, Seq("cardiomyopathy", "acute")), (2L, Seq("cardiomegaly")))
      .toDF("cid", "labels")
    val bc = spark.sparkContext.broadcast(vocab)
    val got = postings(cls, 0, c => text.wordpieceTokensCol(bc)(c))
      .as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // plain-Scala twin as the oracle
    assert(got(1L) ==
      (text.wordpieceTokens(vocab, "cardiomyopathy") ++
        text.wordpieceTokens(vocab, "acute")).toSet)
    // greedy prefers the longer '##opathy' over '##opat' + '##hy'
    assert(got(1L).contains("##opathy") && !got(1L).contains("##opat"))
    // morphological variants share the head piece 'card' in the index
    assert(got(2L) == Set("card", "##iome", "##galy"))
    assert(got(1L).intersect(got(2L)) == Set("card"))
  }

  test("fixed-point variant agrees with double variant on ranking") {
    val posting = postings(classes)
    val q = Seq((1L, "heart"), (1L, "failure"), (1L, "renal"))
      .toDF("query_id", "token")
    val a = index.idfCandidates(q, posting, 3, 3)
      .select("class_id").as[Long].collect().toList
    val b = index.idfCandidates(q, posting, 3, 3, fixedPointIdf = true)
      .select("class_id").as[Long].collect().toList
    assert(a == b)
  }

  test("candidates: a forced broadcast survives stats-off; the default defers to size statistics") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    val posting = postings(Seq((1L, Seq("heart failure")), (2L, Seq("heart attack")))
      .toDF("cid", "labels"))
    val q = Seq((10L, "heart"), (10L, "failure")).toDF("query_id", "token")
    def broadcasts(hint: Option[Boolean]) =
      index.idfCandidates(q, posting, 2, 5, broadcastPostings = hint)
        .queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
    assert(broadcasts(Some(true)))
    assert(!broadcasts(None))
  }

  test("postings broadcast is forced only while the to-side is within route.MaxCatalog") {
    import graft.operators.nes
    import graft.plans.route
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    val from = Seq(("s1", "acute heart failure")).toDF("id", "label")
    val to = Seq(("t1", "acute heart failure"), ("t2", "kidney stone")).toDF("id", "label")
    def broadcasts(d: Long) = nes.alignOneSide(from, to, d, 5, 1)
      .queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
    assert(route.broadcastCatalog(route.MaxCatalog, "spec") == Some(true))
    assert(route.broadcastCatalog(route.MaxCatalog + 1, "spec").isEmpty)
    assert(broadcasts(2L))
    assert(!broadcasts(route.MaxCatalog + 1))
  }
}
