package graft

import org.apache.spark.sql.functions._
import graft.operators.quality
import graft.functions.text

class QualitySpec extends SparkSuite {
  import spark.implicits._

  // ---------------------------------------------------------------------
  // repetitionMetrics — checked against a plain-Scala twin
  // ---------------------------------------------------------------------

  private def twinMetrics(s: String): (Long, Long, Double, Long, Long, Double, Double) = {
    val toks = text.wordTokens(s)
    val n = toks.size.toLong
    val nd = toks.distinct.size.toLong
    val bgs = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
    val counts = bgs.groupBy(identity).map(_._2.size.toLong)
    val nb = bgs.size.toLong
    val top = if (counts.isEmpty) 0L else counts.max
    val dup = counts.filter(_ > 1).sum
    (n, nd, if (n == 0) 0.0 else 1.0 - nd.toDouble / n, nb, top,
      if (nb == 0) 0.0 else top.toDouble / nb,
      if (nb == 0) 0.0 else dup.toDouble / nb)
  }

  private lazy val repDocs = Seq(
    (1L, "the cat sat on the cat sat mat"),
    (2L, "spark spark spark spark"),
    (3L, "all distinct words here now"),
    (4L, "one"),                       // single token: zero bigrams
    (5L, "go go go stop go go")
  ).toDF("doc_id", "text")

  test("repetitionMetrics matches the plain-Scala twin per document") {
    val got = quality.repetitionMetrics(repDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7))).toMap
    val texts = repDocs.as[(Long, String)].collect().toMap
    texts.foreach { case (id, s) =>
      val (n, nd, dwf, nb, top, tbf, dbf) = twinMetrics(s)
      val (gn, gnd, gdwf, gnb, gtop, gtbf, gdbf) = got(id)
      assert(gn == n && gnd == nd && gnb == nb && gtop == top,
        s"doc $id counts: got ${got(id)}, want ${twinMetrics(s)}")
      assert(math.abs(gdwf - dwf) < 1e-9 && math.abs(gtbf - tbf) < 1e-9 &&
        math.abs(gdbf - dbf) < 1e-9, s"doc $id fracs: got ${got(id)}, want ${twinMetrics(s)}")
    }
    // the degenerate fully-repeated doc maxes out every signal
    assert(got(2L)._6 == 1.0 && got(2L)._7 == 1.0 && got(2L)._3 == 0.75)
    // the all-distinct doc has zero repetition
    assert(got(3L)._3 == 0.0 && got(3L)._7 == 0.0)
  }

  test("repetitionMetrics is partition-invariant") {
    val a = quality.repetitionMetrics(repDocs.repartition(7), "doc_id", "text")
      .orderBy("id").collect().toSeq
    val b = quality.repetitionMetrics(repDocs.coalesce(1), "doc_id", "text")
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  // ---------------------------------------------------------------------
  // quotaSample — bucketed rank ≡ plain (md5, id) rank; content-keyed
  // ---------------------------------------------------------------------

  private lazy val sampleDocs = (1L to 200L).map(i =>
    (i, if (i % 3 == 0) "big" else "small")).toDF("doc_id", "src")
  private lazy val quotas = Seq(("big", 5L), ("small", 3L)).toDF("grp", "quota")

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString
  }

  test("quotaSample keeps exactly the quota-smallest md5 ranks per group") {
    val got = quality.quotaSample(sampleDocs, "doc_id", "src", quotas)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byGrp = got.groupBy(_._2)
    assert(byGrp("big").size == 5 && byGrp("small").size == 3)
    // twin: rank every id in the group by (md5(id), id), take the quota head
    val ids = sampleDocs.as[(Long, String)].collect()
    Seq(("big", 5), ("small", 3)).foreach { case (g, q) =>
      val want = ids.filter(_._2 == g).map(_._1)
        .sortBy(i => (md5Hex(i.toString), i)).take(q).toSet
      assert(byGrp(g).map(_._1).toSet == want, s"group $g membership")
      // ranks are 1..quota and consistent with the md5 order
      assert(byGrp(g).map(_._3).sorted.toSeq == (1 to q).map(_.toLong))
    }
  }

  test("quotaSample is partition-invariant (content-keyed membership)") {
    val a = quality.quotaSample(sampleDocs.repartition(13), "doc_id", "src", quotas)
      .orderBy("grp", "rnk").collect().toSeq
    val b = quality.quotaSample(sampleDocs.coalesce(1), "doc_id", "src", quotas)
      .orderBy("grp", "rnk").collect().toSeq
    assert(a == b)
  }

  // ---------------------------------------------------------------------
  // decontaminate
  // ---------------------------------------------------------------------

  test("decontaminate flags train docs overlapping the benchmark shingles") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta zeta"),   // shares 2 3-shingles -> flagged
      (2L, "beta gamma delta other words"),  // shares 1 ("beta gamma delta")...
      (3L, "nothing in common at all"),
      (4L, "alpha beta gamma delta epsilon") // identical: all 3 shingles
    ).toDF("doc_id", "text")
    val got = quality.decontaminate(train, bench, "doc_id", "text", 3, 2L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    // bench 3-shingles: {alpha beta gamma, beta gamma delta, gamma delta epsilon}
    assert(got(1L) == (2L, 1))  // alpha beta gamma + beta gamma delta
    assert(got(2L) == (1L, 0))  // beta gamma delta only — below minOverlap
    assert(got(3L) == (0L, 0))
    assert(got(4L) == (3L, 1))
    assert(got.size == 4)       // clean docs are kept in the audit output
  }

  test("decontaminate shuffled fallback (bench set over the broadcast cap) " +
      "matches the broadcast path") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta zeta"),
      (2L, "beta gamma delta other words"),
      (3L, "nothing in common at all"),
      (4L, "alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val broadcastPath = quality.decontaminate(train, bench, "doc_id", "text", 3, 2L)
      .orderBy("id").collect().toSeq
    // cap of 1 forces the width-pinned shuffled join; results must be
    // identical. Since r7 the fallback materializes the per-doc overlap
    // eagerly (inside decontaminate) and RELEASES the over-cap bench-
    // shingle cache — the returned frame's plan therefore shows the
    // checkpoint scan rather than the join, and the meaningful assertions
    // are (a) value equality with the broadcast path and (b) no cached
    // RDD left pinned by the call (the r6 ADVICE leak).
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val fallback = quality.decontaminate(train, bench, "doc_id", "text", 3, 2L,
      maxBenchShingles = 1L)
    assert(fallback.orderBy("id").collect().toSeq == broadcastPath)
    // exactly ONE new persistent entry may remain: the overlap's own
    // localCheckpoint blocks (released when the frame is GC'd). A pinned
    // bench-shingle cache on top would make it two — the r6 ADVICE leak.
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore + 1,
      "decontaminate fallback left its bench-shingle cache pinned")
  }

  // ---------------------------------------------------------------------
  // redactPii
  // ---------------------------------------------------------------------

  test("redactPii replaces emails, IPv4s and phones with typed tokens " +
      "and counts each") {
    val docs = Seq(
      (1L, "mail bob.smith+x@sub.example.org or alice@ex.co today"),
      (2L, "server at 10.0.0.1 and 192.168.255.3 up"),
      (3L, "call 555-010-1234 or 555.010.9999 or 555 010 0000"),
      (4L, "mixed a@b.io via 8.8.8.8 tel 123-456-7890"),
      (5L, "clean text with no pii at all"),
      (6L, "version 1.2.3 is not an ip and 12-34 not a phone")
    ).toDF("doc_id", "text")
    val got = quality.redactPii(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got(1L) == (2L, 0L, 0L, "mail <EMAIL> or <EMAIL> today"))
    assert(got(2L) == (0L, 2L, 0L, "server at <IP> and <IP> up"))
    assert(got(3L) == (0L, 0L, 3L, "call <PHONE> or <PHONE> or <PHONE>"))
    assert(got(4L) == (1L, 1L, 1L, "mixed <EMAIL> via <IP> tel <PHONE>"))
    assert(got(5L) == (0L, 0L, 0L, "clean text with no pii at all"))
    // 1.2.3 has only three dotted groups; 12-34 has the wrong group shape
    assert(got(6L) == (0L, 0L, 0L,
      "version 1.2.3 is not an ip and 12-34 not a phone"))
  }

  test("redactPii is sequential: a dotted quad inside an email is redacted " +
      "as part of the email, not double-counted") {
    val docs = Seq((1L, "ping admin@10.0.0.1.example.com now")).toDF("doc_id", "text")
    val r = quality.redactPii(docs, "doc_id", "text").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == (1L, 0L, 0L))
    assert(r.getString(4) == "ping <EMAIL> now")
  }

  // ---------------------------------------------------------------------
  // packSequences — checked against a plain-Scala prefix-sum twin
  // ---------------------------------------------------------------------

  test("packSequences: bucketed offsets equal the global (md5, id) " +
      "prefix sum and chunk bounds are exact") {
    val docs = (1L to 40L).map(i =>
      (i, Seq.fill((i % 7).toInt + 1)("w").mkString(" "))) :+ (99L, "")
    val df = docs.toDF("doc_id", "text")
    val seqLen = 10L
    // plain-Scala twin: sort by (md5(id), id), exclusive prefix sum
    val expected = docs
      .map { case (i, t) => (i, text.wordTokens(t).size.toLong) }
      .sortBy { case (i, _) => (md5Hex(i.toString), i) }
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (i, n)) => (i, n, acc + n) }
      .drop(1)
      .map { case (i, n, cum) =>
        val off = cum - n
        (i, n, off, off / seqLen,
          if (n > 0) (off + n - 1) / seqLen else off / seqLen)
      }.toSet
    val got = quality.packSequences(df, "doc_id", "text", seqLen)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // chunk bounds: every token index is covered exactly once overall
    val total = docs.map(d => text.wordTokens(d._2).size.toLong).sum
    assert(got.toSeq.map(_._2).sum == total)
    assert(got.exists(r => r._5 > r._4), "fixture should span a boundary")
  }

  test("packSequences is partition-invariant") {
    val df = (1L to 30L).map(i => (i, s"tok a b c d" * (i % 5).toInt))
      .toDF("doc_id", "text")
    val a = quality.packSequences(df, "doc_id", "text", 16L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val b = quality.packSequences(df.repartition(7), "doc_id", "text", 16L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(a == b)
  }

  // ---------------------------------------------------------------------
  // lmPerplexity — checked against a plain-Scala bigram-LM twin
  // ---------------------------------------------------------------------

  private lazy val lmDocs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat sat"),
    (3L, "a dog and a dog and a dog"),
    (4L, "dog"),   // 1 token: zero bigrams
    (5L, "")       // zero tokens
  ).toDF("doc_id", "text")

  test("lmPerplexity matches the plain-Scala bigram-LM twin") {
    val tokMap = Seq(1L -> "the cat sat on the mat", 2L -> "the cat sat",
      3L -> "a dog and a dog and a dog", 4L -> "dog", 5L -> "")
      .map { case (i, s) => i -> text.wordTokens(s) }.toMap
    val allBgs = tokMap.values.toSeq.flatMap(t =>
      t.sliding(2).filter(_.size == 2).map(p => (p.head, p.mkString(" "))))
    val bgc = allBgs.groupBy(_._2).map { case (b, xs) => b -> xs.size.toLong }
    val ctx = allBgs.groupBy(_._1).map { case (w, xs) => w -> xs.size.toLong }
    val v = tokMap.values.flatten.toSet.size.toDouble
    def twin(ts: Seq[String]): (Long, Long) = {
      val terms = ts.sliding(2).filter(_.size == 2).map { p =>
        val c = bgc(p.mkString(" "))
        val cc = ctx(p.head)
        math.floor(-1e6 * math.log((c + 1.0) / (cc + v))).toLong
      }.toSeq
      (terms.size.toLong, terms.sum)
    }
    val got = quality.lmPerplexity(lmDocs, lmDocs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    assert(got.map(_._1) == (1L to 5L).toList) // one row per doc
    for ((id, nb, nll, avg) <- got) {
      val (enb, enll) = twin(tokMap(id))
      assert(nb == enb, s"id=$id n_bigrams=$nb expected $enb")
      assert(nll == enll, s"id=$id nll_fp=$nll expected $enll")
      val eavg = if (enb == 0) 0.0 else enll.toDouble / (enb * 1e6)
      assert(math.abs(avg - eavg) < 1e-6, s"id=$id avg_nll=$avg expected $eavg")
    }
    // the repetitive doc is the most predictable one with bigrams
    val byId = got.map(r => r._1 -> r._4).toMap
    assert(byId(3L) < byId(1L) && byId(3L) < byId(2L))
  }

  test("lmPerplexity scores unseen bigrams via the smoothed floor") {
    val corpus = Seq((1L, "the cat sat")).toDF("doc_id", "text")
    val held = Seq((9L, "purple elephant")).toDF("doc_id", "text")
    // V = 3 ("the cat sat"); unseen context: p = 1/V
    val r = quality.lmPerplexity(corpus, held, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().head
    assert(r._2 == 1L)
    assert(r._3 == math.floor(-1e6 * math.log(1.0 / 3.0)).toLong)
  }

  test("dsirWeights equals the two-lmPerplexity composition") {
    val target = lmDocs.filter($"doc_id" <= 2L)
    val got = quality.dsirWeights(target, lmDocs, lmDocs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1).toList
    assert(got.map(_._1) == (1L to 5L).toList)
    val tNll = quality.lmPerplexity(target, lmDocs, "doc_id", "text")
      .select("id", "nll_fp").as[(Long, Long)].collect().toMap
    val bNll = quality.lmPerplexity(lmDocs, lmDocs, "doc_id", "text")
      .select("id", "nll_fp").as[(Long, Long)].collect().toMap
    for ((id, _, nt, nb, lw, lwd) <- got) {
      assert(nt == tNll(id), s"id=$id target NLL")
      assert(nb == bNll(id), s"id=$id background NLL")
      assert(lw == bNll(id) - tNll(id), s"id=$id logw_fp")
      assert(math.abs(lwd - lw.toDouble / 1e6) < 1e-6)
    }
    // per-bigram weight favors target-like docs (1 is IN the target
    // distribution; 3's bigrams are unseen by the target model)
    val perBg = got.filter(_._2 > 0).map(r => r._1 -> r._5.toDouble / r._2).toMap
    assert(perBg(1L) > perBg(3L))
  }

  test("gumbelTopK matches the plain-Scala Gumbel-max twin") {
    val n = 10
    val seed = 42L
    val df = (1L to 100L).map(i => (i, (i % 7) * 250000L - 500000L))
      .toDF("doc_id", "lw")
    def gumbelFp(id: Long, lw: Long): Long = {
      val h = java.lang.Long.parseLong(md5Hex(id.toString).take(15), 16)
      val draw = (((h + seed) % 2147483648L) * 1103515245L + 12345L) % 2147483648L
      val u = (draw + 0.5) / 2147483648.0
      lw + math.floor(1e6 * -math.log(-math.log(u))).toLong
    }
    val expected = (1L to 100L).map(i => (i, (i % 7) * 250000L - 500000L))
      .map { case (i, lw) => (i, lw, gumbelFp(i, lw)) }
      .sortBy { case (i, _, g) => (-g, i) }.take(n).zipWithIndex
      .map { case ((i, lw, g), r) => (i, lw, g, r + 1L) }.toSet
    val got = quality.gumbelTopK(df, "doc_id", "lw", n, seed)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // partition invariance: the draw is content-keyed
    val reparted = quality.gumbelTopK(df.repartition(7), "doc_id", "lw", n, seed)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(reparted == expected)
  }

  test("lmPerplexity is partition-invariant (fixed-point NLL sums)") {
    val a = quality.lmPerplexity(lmDocs, lmDocs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().toSet
    val b = quality.lmPerplexity(lmDocs.repartition(7), lmDocs.repartition(5),
      "doc_id", "text").as[(Long, Long, Long, Double)].collect().toSet
    assert(a == b)
  }
}
