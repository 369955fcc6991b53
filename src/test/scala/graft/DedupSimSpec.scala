package graft

import graft.operators.{dedup, similarity}

class DedupSimSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox"),
    (2L, "The  quick_brown fox"),   // same after normalization
    (3L, "a completely different sentence here"),
    (4L, "the quick brown fox jumps")
  ).toDF("id", "text")

  test("exact dedup: normalized-hash groups, min-id canonical") {
    val rows = dedup.exact(docs, "id", "text")
      .select("id", "group_size", "is_canonical")
      .as[(Long, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows(1L) == (2L, 1) && rows(2L) == (2L, 0))
    assert(rows(3L) == (1L, 1) && rows(4L) == (1L, 1))
  }

  test("firstSeenLedger: first arrival wins, exact()'s canonical hash set") {
    import org.apache.spark.sql.functions._
    // arrival REVERSES id order: the (1, 2) duplicate pair must now keep
    // id 2 (first arrival), while the emitted hash set stays exactly
    // exact()'s canonical set — the streaming-ledger contract
    val ledger = dedup.firstSeenLedger(docs, "id", "text", -col("id"))
      .as[(String, Long, Long)].collect()
    val canonicalHashes = dedup.exact(docs, "id", "text")
      .filter(col("is_canonical") === 1)
      .select("text_hash").as[String].collect().toSet
    assert(ledger.map(_._1).toSet == canonicalHashes)
    val byHash = ledger.map(r => r._1 -> r._2).toMap
    val dupHash = dedup.exact(docs, "id", "text")
      .filter(col("group_size") === 2)
      .select("text_hash").as[String].head()
    assert(byHash(dupHash) == 2L) // first-arrived copy, not min id
    // with arrival = id the ledger survivor IS exact's min-id canonical
    val sameOrder = dedup.firstSeenLedger(docs, "id", "text", col("id"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(sameOrder(dupHash) == 1L)
  }

  test("shingles: sliding word k-grams, distinct") {
    val s = dedup.shingles(Seq((1L, "a b c b c")).toDF("id", "text"), "id", "text", 2)
      .select("shingle").as[String].collect().toSet
    assert(s == Set("a b", "b c", "c b"))
  }

  test("ngramJaccardPairs finds near-dups above threshold") {
    val pairs = dedup.ngramJaccardPairs(docs, "id", "text", 2, 0.5, 100)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical after normalization
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash: identical docs get identical signatures") {
    val sig = dedup.minhashLong(docs, "id", "text", 2, 8)
      .select("id", "seed", "mh").as[(Long, Int, String)].collect()
    val s1 = sig.filter(_._1 == 1L).map(r => (r._2, r._3)).sorted.toList
    val s2 = sig.filter(_._1 == 2L).map(r => (r._2, r._3)).sorted.toList
    assert(s1 == s2 && s1.size == 8)
  }

  test("lshCandidates surfaces the identical pair") {
    val pairs = dedup.lshCandidates(docs, "id", "text", 2, 8, 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  /** Plain-Scala simhash oracle: same bit convention as dedup.simhash
    * (bit j = nibble bit j%4 of lowercase-hex md5 digit j/4), full 64 bits
    * — exercises positions above the 53-bit double mantissa. */
  private def simhashOracle(text: String): (Long, Long, Long, Long) = {
    val toks = graft.functions.text.wordTokens(graft.functions.text.normalize(text))
    val w = toks.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    val votes = new Array[Long](64)
    w.foreach { case (t, cnt) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      for (j <- 0 until 64) {
        val nib = Integer.parseInt(md.charAt(j / 4).toString, 16)
        if (((nib >> (j % 4)) & 1) == 1) votes(j) += cnt else votes(j) -= cnt
      }
    }
    def band(b: Int): Long =
      (0 until 16).map(k => if (votes(16 * b + k) > 0) 1L << k else 0L).sum
    (band(0), band(1), band(2), band(3))
  }

  test("simhash: identical normalized docs -> identical signature; matches Scala oracle incl. bits >53") {
    val s = dedup.simhash(docs, "id", "text")
      .select("id", "b0", "b1", "b2", "b3").as[(Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(s(1L) == s(2L))
    assert(s(1L) != s(3L))
    // exact bit-for-bit agreement with the reference implementation
    assert(s(1L) == simhashOracle("the quick brown fox"))
    assert(s(3L) == simhashOracle("a completely different sentence here"))
    // the fixture must actually exercise the high band (bits 48-63): a
    // double-mantissa assembly would corrupt these
    assert(docs.as[(Long, String)].collect().exists { case (_, t) =>
      simhashOracle(t)._4 >= (1L << 6) })
  }

  test("simhashPairs: banding surfaces identical docs at hamming 0, skips far docs") {
    val pairs = dedup.simhashPairs(docs, "id", "text", 3)
      .select("id1", "id2", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("bruteForceTopK: hand-computed nearest neighbor") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f))
    ).toDF("vid", "vec")
    val out = similarity.bruteForceTopK(vecs.filter($"vid" === 1L), vecs, "vid", "vec", 2)
      .select("cand_id", "rank").as[(Long, Int)].collect().toMap
    assert(out(2L) == 1 && out(3L) == 2)
  }

  test("assignCells literal-argmax path ≡ broadcast-window path (incl. ties)") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.7f, 0.7f)), // exact tie vs both centroids
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.6f, 0.8f))
    ).toDF("vid", "vec")
    val centroids = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("cell", "cvec")
    val lit = similarity.assignCells(vecs, centroids, "vid", "vec")
      .select("id", "cell").as[(Long, Long)].collect().toMap
    val bc = similarity.assignCellsBroadcast(vecs, centroids, "vid", "vec")
      .select("id", "cell").as[(Long, Long)].collect().toMap
    assert(lit == bc)
    assert(lit(2L) == 0L) // tie-break: smallest cell
  }

  test("pqEncode literal path ≡ broadcast-window path") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 1.0f)), (2L, Seq(0.9f, 0.1f, 0.2f, 0.8f)),
      (3L, Seq(0.0f, 1.0f, 1.0f, 0.0f)), (4L, Seq(0.1f, 0.9f, 0.7f, 0.3f))
    ).toDF("vid", "vec")
    val cb = similarity.pqFitCodebooks(vecs, "vid", "vec", 2, 2, 2, 2)
    val lit = similarity.pqEncode(vecs, cb, "vid", "vec", 2, 2)
      .as[(Long, Int, Int)].collect().toSet
    val bc = similarity.pqEncodeBroadcast(vecs, cb, "vid", "vec", 2, 2)
      .as[(Long, Int, Int)].collect().toSet
    assert(lit == bc && lit.size == 8)
    // a null vector in the FIRST row: the dimension peek skips it, and the
    // literal argmax maps it to the same cell as the window plan
    val nullFirst = (Seq(0L -> Option.empty[Seq[Float]]) ++
      vecs.as[(Long, Seq[Float])].collect().sortBy(_._1).map { case (i, v) => i -> Some(v) })
      .toDF("vid", "vec")
    val litN = similarity.pqEncode(nullFirst, cb, "vid", "vec", 2, 2)
      .as[(Long, Int, Int)].collect().toSet
    val bcN = similarity.pqEncodeBroadcast(nullFirst, cb, "vid", "vec", 2, 2)
      .as[(Long, Int, Int)].collect().toSet
    assert(litN == bcN && litN.size == 10)
  }

  test("assignCells / pqEncode: string, tied and null cells give the broadcast plan's answer") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f, 0.0f, 1.0f)),
      (3L, Seq(0.6f, 0.8f, 0.8f, 0.6f))
    ).toDF("vid", "vec")
    // "9" and "10" share a centroid: Spark's string order breaks the tie to
    // "10" (read as numbers it would be 9), and "07" must stay "07"
    val strCells = Seq(("9", Seq(1.0f, 0.0f, 1.0f, 0.0f)), ("10", Seq(1.0f, 0.0f, 1.0f, 0.0f)),
      ("07", Seq(0.0f, 1.0f, 0.0f, 1.0f))).toDF("cell", "cvec")
    val nullCells = Seq((Some(1L), Seq(1.0f, 0.0f, 1.0f, 0.0f)), (None, Seq(0.0f, 1.0f, 0.0f, 1.0f)))
      .toDF("cell", "cvec")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    for (cen <- Seq(strCells, nullCells))
      assert(rows(similarity.assignCells(vecs, cen, "vid", "vec").select("id", "cell")) ==
        rows(similarity.assignCellsBroadcast(vecs, cen, "vid", "vec").select("id", "cell")))
    val byId = similarity.assignCells(vecs, strCells, "vid", "vec")
      .select("id", "cell").as[(Long, String)].collect().toMap
    assert(byId(1L) == "10" && byId(2L) == "07")

    val strBook = Seq(0, 1).flatMap(s => Seq((s, "9", Seq(1.0f, 0.0f)),
      (s, "10", Seq(1.0f, 0.0f)), (s, "07", Seq(0.0f, 1.0f)))).toDF("subspace", "cell", "cvec")
    val nullBook = Seq(0, 1).flatMap(s => Seq((s, Some(1L), Seq(1.0f, 0.0f)),
      (s, Option.empty[Long], Seq(0.0f, 1.0f)))).toDF("subspace", "cell", "cvec")
    for (cb <- Seq(strBook, nullBook))
      assert(rows(similarity.pqEncode(vecs, cb, "vid", "vec", 2, 2)) ==
        rows(similarity.pqEncodeBroadcast(vecs, cb, "vid", "vec", 2, 2)))
    val codes = similarity.pqEncode(vecs, strBook, "vid", "vec", 2, 2)
      .as[(Long, Int, String)].collect().toSet
    assert(codes.filter(_._1 == 1L).map(_._3) == Set("10") &&
      codes.filter(_._1 == 2L).map(_._3) == Set("07"))
  }

  test("ivfTopK probes nearest cells and matches brute force on clean clusters") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.95f, 0.05f)), (2L, Seq(0.9f, 0.1f)),
      (100L, Seq(0.0f, 1.0f)), (101L, Seq(0.05f, 0.95f)), (102L, Seq(0.1f, 0.9f))
    ).toDF("vid", "vec")
    val centroids = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("cell", "cvec")
    val q = vecs.filter($"vid" === 1L)
    val ivf = similarity.ivfTopK(q, vecs, centroids, "vid", "vec", 2, 1)
      .select("cand_id").as[Long].collect().toSet
    val bf = similarity.bruteForceTopK(q, vecs, "vid", "vec", 2)
      .select("cand_id").as[Long].collect().toSet
    assert(ivf == bf) // nProbe=1 suffices: cluster is clean
  }

  test("embeddingNearDups respects blocking key") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), "a"), (2L, Seq(0.99f, 0.01f), "a"),
      (3L, Seq(1.0f, 0.0f), "b") // identical to 1 but different block
    ).toDF("vid", "vec", "blk")
    val out = dedup.embeddingNearDups(vecs, "vid", "vec", "blk", 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("kmeansFit: separates clean clusters and is partition-invariant") {
    // two tight clusters on orthogonal axes; k=2, any sane fit splits them
    val vecs = Seq(
      (1L, Seq(1.0f, 0.01f)), (2L, Seq(0.98f, 0.02f)), (3L, Seq(0.99f, 0.0f)),
      (4L, Seq(0.01f, 1.0f)), (5L, Seq(0.02f, 0.97f)), (6L, Seq(0.0f, 0.99f)))
      .toDF("vid", "vec")
    def run(parts: Int) =
      similarity.kmeansFit(vecs.repartition(parts), "vid", "vec", 2, 3)
        .select("cell", "n_assigned", "centroid")
        .as[(Int, Long, Seq[Long])].collect().sortBy(_._1).toList
    val a = run(1)
    val b = run(5)
    assert(a == b, s"fit is partition-dependent:\n$a\n$b")
    assert(a.map(_._2).sorted == List(3L, 3L)) // 3 vectors per cluster
    // each centroid is dominated by one axis (fixed-point 1e6 domain)
    val doms = a.map(_._3).map(c => c.indexOf(c.max)).toSet
    assert(doms == Set(0, 1))
  }

  test("kmeansFit refuses a fit larger than maxFitRows (sample contract)") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vid", "vec")
    val e = intercept[IllegalArgumentException] {
      similarity.kmeansFit(vecs, "vid", "vec", 2, 2, maxFitRows = 2L)
    }
    assert(e.getMessage.contains("maxFitRows"))
    // at the guard boundary the fit still runs
    assert(similarity.kmeansFit(vecs, "vid", "vec", 2, 2, maxFitRows = 3L)
      .count() == 2L)
  }

  test("kmeansFit centroids feed ivfTopK (self-contained IVF)") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.95f, 0.05f)), (3L, Seq(0.9f, 0.1f)),
      (4L, Seq(0.0f, 1.0f)), (5L, Seq(0.05f, 0.95f)), (6L, Seq(0.1f, 0.9f)))
      .toDF("vid", "vec")
    val cen = similarity.fitCentroidsForIvf(
      similarity.kmeansFit(vecs, "vid", "vec", 2, 2))
    val q = vecs.filter($"vid" === 1L)
    val ivf = similarity.ivfTopK(q, vecs, cen, "vid", "vec", 2, 1)
      .select("cand_id").as[Long].collect().toSet
    val bf = similarity.bruteForceTopK(q, vecs, "vid", "vec", 2)
      .select("cand_id").as[Long].collect().toSet
    assert(ivf == bf) // clean clusters: 1-probe IVF agrees with brute force
  }

  // ---------------------------------------------------------------------
  // Product quantization
  // ---------------------------------------------------------------------

  /** 4 distinct integer-valued vectors (dim 4, m=2 subspaces of 2): with
    * n == k the content-keyed init picks all of them, Lloyd is the
    * identity, each vector IS its own reconstruction — so ADC must equal
    * the exact cosine (all arithmetic stays on exactly-representable
    * integer doubles; 1e6 fixed-point is lossless on integers). */
  private lazy val pqVecs = Seq(
    (1L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
    (2L, Seq(4.0f, 3.0f, 2.0f, 1.0f)),
    (3L, Seq(2.0f, 2.0f, 5.0f, 1.0f)),
    (4L, Seq(9.0f, 1.0f, 1.0f, 7.0f))
  ).toDF("vid", "vec")

  test("pqFitCodebooks + pqEncode: one code per (id, subspace), codes identify the vector") {
    val cb = similarity.pqFitCodebooks(pqVecs, "vid", "vec", 2, 2, 4, 2)
    assert(cb.count() == 8) // m * k
    val codes = similarity.pqEncode(pqVecs, cb, "vid", "vec", 2, 2)
      .as[(Long, Int, Int)].collect()
    assert(codes.length == 8) // m per vector
    assert(codes.groupBy(c => (c._1, c._2)).forall(_._2.length == 1))
    // with n == k every vector is a centroid: distinct vectors must land on
    // distinct codes within each subspace where their subvectors differ
    val bySub = codes.groupBy(_._2)
    assert(bySub(0).map(_._3).distinct.length == 4)
    assert(bySub(1).map(_._3).distinct.length == 4)
  }

  test("pqTopK ADC equals exact brute-force cosine when reconstruction is exact") {
    val cb = similarity.pqFitCodebooks(pqVecs, "vid", "vec", 2, 2, 4, 2)
    val codes = similarity.pqEncode(pqVecs, cb, "vid", "vec", 2, 2)
    val q = pqVecs.filter($"vid" === 1L)
    val adc = similarity.pqTopK(q, codes, cb, "vid", "vec", 3, 2, 2)
      .select("cand_id", "adc_cosine", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3).toList
    val bf = similarity.bruteForceTopK(q, pqVecs, "vid", "vec", 3)
      .select("cand_id", "cosine", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3).toList
    assert(adc.map(_._1) == bf.map(_._1), s"ADC ranking differs: $adc vs $bf")
    adc.zip(bf).foreach { case ((_, a, _), (_, b, _)) =>
      assert(math.abs(a - b) < 1e-12, s"ADC $a != exact $b")
    }
  }

  test("ivfPqTopK with all cells probed equals exact brute force on the exact-reconstruction fixture") {
    val coarse = similarity.fitCentroidsForIvf(
      similarity.kmeansFit(pqVecs, "vid", "vec", 4, 2))
    val cb = similarity.pqFitCodebooks(pqVecs, "vid", "vec", 2, 2, 4, 2)
    val q = pqVecs.filter($"vid" === 1L)
    val got = similarity.ivfPqTopK(q, pqVecs, coarse, cb, "vid", "vec", 3, 4, 2, 2)
      .select("cand_id", "adc_cosine", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3).toList
    val bf = similarity.bruteForceTopK(q, pqVecs, "vid", "vec", 3)
      .select("cand_id", "cosine", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3).toList
    assert(got.map(_._1) == bf.map(_._1), s"IVF+PQ ranking differs: $got vs $bf")
    got.zip(bf).foreach { case ((_, a, _), (_, b, _)) =>
      assert(math.abs(a - b) < 1e-12)
    }
    // with nProbe=1 only the query's own cell is scanned: results are a
    // subset of the candidates, never outside the probed cell
    val narrow = similarity.ivfPqTopK(q, pqVecs, coarse, cb, "vid", "vec", 3, 1, 2, 2)
      .select("cand_id").as[Long].collect().toSet
    assert(narrow.subsetOf(pqVecs.as[(Long, Seq[Float])].collect().map(_._1).toSet))
    assert(narrow.size < 3) // n==k: one vector per cell, so own-cell-only finds < k others
  }

  test("pqTopK guards the zero-norm query: scores 0.0 with id-ascending ranks, never NaN at rank 1") {
    val cb = similarity.pqFitCodebooks(pqVecs, "vid", "vec", 2, 2, 4, 2)
    val codes = similarity.pqEncode(pqVecs, cb, "vid", "vec", 2, 2)
    val zq = Seq((99L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vid", "vec")
    val got = similarity.pqTopK(zq, codes, cb, "vid", "vec", 3, 2, 2)
      .select("cand_id", "adc_cosine", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3).toList
    assert(got.forall(r => r._2 == 0.0 && !r._2.isNaN), s"unguarded NaN/score: $got")
    assert(got.map(_._1) == got.map(_._1).sorted) // pure cand-id tie-break
  }

  test("pqEncode fails fast when m*subDim exceeds the vector dimension") {
    val cb = similarity.pqFitCodebooks(pqVecs, "vid", "vec", 2, 2, 4, 2)
    val e = intercept[IllegalArgumentException] {
      similarity.pqEncode(pqVecs, cb, "vid", "vec", 2, 33)
    }
    assert(e.getMessage.contains("exceeds vector dimension"))
  }

  test("pq chain is partition-invariant") {
    def run(parts: Int) = {
      val v = pqVecs.repartition(parts)
      val cb = similarity.pqFitCodebooks(v, "vid", "vec", 2, 2, 4, 2)
      val codes = similarity.pqEncode(v, cb, "vid", "vec", 2, 2)
      similarity.pqTopK(v.filter($"vid" === 2L), codes, cb, "vid", "vec", 3, 2, 2)
        .select("cand_id", "adc_cosine", "rank")
        .as[(Long, Double, Int)].collect().sortBy(_._3).toList
    }
    assert(run(1) == run(5))
  }

  test("pqFitCodebooks at m=3 ≡ kmeansFit over each subspace's slice (ties, a cell emptied after round 1)") {
    import org.apache.spark.sql.functions.{col, slice}
    // seeds are ids 6, 7, 4 (cells 1, 2, 3: smallest md5(id)). Subspace 0
    // puts seed 4 between the other two cells, whose heavy members pull
    // their centroids next to it after round 1: cell 3 empties in round 2
    // and keeps its centroid. Subspace 1 has exact cosine ties ((1, 1)
    // between (1, 0) and (0, 1); the zero vector, every sim 0.0 under the
    // guard). Subspace 2 mirrors subspace 0.
    val vecs = Seq(
      6L -> Seq(0.6947f, 0.7193f, 1.0f, 0.0f, 0.7193f, 0.6947f),
      1L -> Seq(6.7043f, 7.4198f, 1.0f, 1.0f, 7.4198f, 6.7043f),
      4L -> Seq(0.6428f, 0.766f, -1.0f, 0.0f, 0.766f, 0.6428f),
      2L -> Seq(0.5606f, 0.8281f, 0.0f, 0.0f, 0.8281f, 0.5606f),
      8L -> Seq(5.5775f, 8.3001f, -1.0f, 1.0f, 8.3001f, 5.5775f),
      7L -> Seq(0.4695f, 0.8829f, 0.0f, 1.0f, 0.8829f, 0.4695f)
    ).toDF("vid", "vec")
    def sub(s: Int) = vecs.select(col("vid"), slice(col("vec"), 2 * s + 1, 2).as("sv"))
    def fit(s: Int, iters: Int) = similarity.kmeansFit(sub(s), "vid", "sv", 3, iters)
    val pq = similarity.pqFitCodebooks(vecs, "vid", "vec", 3, 2, 3, 3)
      .as[(Int, Int, Seq[Double])].collect().toList
    val each = (0 until 3).toList.flatMap(s => similarity.fitCentroidsForIvf(fit(s, 3))
      .as[(Int, Seq[Double])].collect().map { case (c, v) => (s, c, v) })
    assert(pq == each, s"shared loop diverges:\npq  =$pq\neach=$each")
    // the fixture exercises the empty-cell rule: every cell is chosen in
    // round 1, cell 3 of subspace 0 by no row afterwards
    def assigned(iters: Int) = fit(0, iters).select("cell", "n_assigned")
      .as[(Int, Long)].collect().toMap
    assert(assigned(1).values.forall(_ > 0L) && assigned(3)(3) == 0L)
  }

  test("embeddingLshPairs: identical vectors always collide; every pair clears the exact threshold") {
    val vs = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),   // identical to 1: shares every bit
      (3L, Seq(-4.0f, 3.0f, -2.0f, 1.0f)), // far from everything
      (4L, Seq(0.9f, 2.1f, 2.9f, 4.2f))    // near 1/2
    ).toDF("vid", "vec")
    val got = dedup.embeddingLshPairs(vs, "vid", "vec",
        planes = 8, bands = 4, threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(got.exists(p => p._1 == 1L && p._2 == 2L && math.abs(p._3 - 1.0) < 1e-12),
      s"identical pair (1,2) missing from $got")
    assert(got.forall(_._3 >= 0.9)) // exact-cosine verify holds
    val a = dedup.embeddingLshPairs(vs.repartition(5), "vid", "vec", 8, 4, 0.9)
      .orderBy("id1", "id2").collect().toSeq
    val b = dedup.embeddingLshPairs(vs.coalesce(1), "vid", "vec", 8, 4, 0.9)
      .orderBy("id1", "id2").collect().toSeq
    assert(a == b) // fixed-point projections: partition-invariant signatures

    // maxBucket, the hot-bucket guard: identical vectors share every band
    // bucket, so a trio fills buckets of 3 and a pair of its negation (no
    // projection is 0, so every bit flips) fills disjoint buckets of 2
    val trio = Seq(1.3f, 2.9f, 3.7f, 0.45f)
    val hot = Seq(11L -> trio, 12L -> trio, 13L -> trio,
      14L -> trio.map(-_), 15L -> trio.map(-_)).toDF("vid", "vec")
    def capped(maxBucket: Long) = dedup.embeddingLshPairs(hot, "vid", "vec",
        8, 4, 0.9, maxBucket = maxBucket)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val uncapped = capped(0L)
    assert(uncapped == Set((11L, 12L), (11L, 13L), (12L, 13L), (14L, 15L)))
    assert(capped(2L) == Set((14L, 15L))) // cap below the trio's buckets drops its pairs
    assert(capped(3L) == uncapped && capped(100L) == uncapped)
  }

  test("pqTopK at m=4 is BIT-exact across partitionings (fixed subspace fold order)") {
    // m > 2 is where a partition-order FP sum could diverge: the ADC tail
    // folds the per-subspace terms via array_sort + sequential aggregate,
    // so the score must be bit-identical at any partitioning, not just
    // approximately equal. Irrational-ish magnitudes make an accidental
    // commutative-exact fixture unlikely.
    val vecs8 = Seq(
      (1L, Seq(0.31f, 1.7f, 2.9f, 0.13f, 5.1f, 0.77f, 3.3f, 1.1f)),
      (2L, Seq(4.7f, 0.23f, 1.9f, 6.1f, 0.37f, 2.2f, 0.91f, 3.7f)),
      (3L, Seq(2.1f, 3.9f, 0.57f, 1.3f, 4.3f, 0.19f, 2.7f, 0.83f)),
      (4L, Seq(0.97f, 2.3f, 5.3f, 0.41f, 1.7f, 3.1f, 0.61f, 4.9f)),
      (5L, Seq(3.3f, 0.71f, 2.1f, 4.7f, 0.29f, 1.9f, 5.7f, 0.53f)),
      (6L, Seq(1.1f, 4.1f, 0.67f, 2.9f, 3.7f, 0.47f, 1.3f, 2.3f))
    ).toDF("vid", "vec")
    def run(parts: Int): List[(Long, Long, Long, Int)] = {
      val v = vecs8.repartition(parts)
      val cb = similarity.pqFitCodebooks(v, "vid", "vec", 4, 2, 3, 2)
      val codes = similarity.pqEncode(v, cb, "vid", "vec", 4, 2)
      similarity.pqTopK(v.filter($"vid" <= 2L), codes, cb, "vid", "vec", 4, 4, 2)
        .select("query_id", "cand_id", "adc_cosine", "rank")
        .as[(Long, Long, Double, Int)].collect()
        .map(r => (r._1, r._2, java.lang.Double.doubleToRawLongBits(r._3), r._4))
        .sortBy(t => (t._1, t._4)).toList
    }
    val a = run(1)
    assert(a == run(7) && a == run(3), "ADC scores not bit-exact across partitionings")
    assert(a.nonEmpty)
  }

  // ---------------------------------------------------------------------
  // duplicateSpans (exact-substring dedup as duplicated k-gram span merge)
  // ---------------------------------------------------------------------

  private lazy val spanDocs = Seq(
    // docs 1 and 2 share the 5-token run "one two three four five";
    // doc 2 appends a second shared run "six seven eight" with doc 3
    (1L, "one two three four five alpha beta gamma"),
    (2L, "zz one two three four five yy six seven eight"),
    (3L, "head six seven eight tail words pad pad"),
    // doc 4 repeats a 3-gram WITHIN itself (suffix-array semantics: total
    // occurrences count, not distinct docs)
    (4L, "rep rep rep rep rep solo"),
    (5L, "entirely unique content nothing shared here at all")
  ).toDF("doc_id", "text")

  test("duplicateSpans marks shared k-gram runs merged to maximal spans") {
    val got = dedup.duplicateSpans(spanDocs, "doc_id", "text", k = 3)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1: "one two three four five" = tokens [0,5); doc 2: same at [1,6)
    // plus "six seven eight" at [7,10); doc 3: [1,4); doc 4: "rep rep rep"
    // occurs at pos 0,1,2 -> merged [0,5); doc 5: nothing
    assert(got == Set((1L, 0L, 5L), (2L, 1L, 6L), (2L, 7L, 10L),
      (3L, 1L, 4L), (4L, 0L, 5L)))
  }

  test("duplicateSpans: a span below k or below minDf never surfaces") {
    // shared bigram only (below k=3); and with minDf=3 the cross-doc pair
    // (df=2) disappears while doc 4's within-doc triple (df=3) survives
    val none = dedup.duplicateSpans(
      Seq((1L, "pair shared plus noise"), (2L, "other pair shared words"))
        .toDF("doc_id", "text"), "doc_id", "text", k = 3)
    assert(none.count() == 0L)
    val strict = dedup.duplicateSpans(spanDocs, "doc_id", "text", k = 3,
      minDf = 3L).as[(Long, Long, Long)].collect().toSet
    assert(strict == Set((4L, 0L, 5L)))
  }

  test("duplicateSpans is partition-invariant") {
    val base = dedup.duplicateSpans(spanDocs, "doc_id", "text", k = 3)
      .as[(Long, Long, Long)].collect().toSet
    val reparted = dedup.duplicateSpans(spanDocs.repartition(7), "doc_id",
      "text", k = 3).as[(Long, Long, Long)].collect().toSet
    assert(base == reparted)
  }

  // ---------------------------------------------------------------------
  // SemDeDup semantic dedup
  // ---------------------------------------------------------------------

  private lazy val sddVecs = Seq(
    (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),   // exact dup of 1
    (3L, Seq(0.8f, 0.6f)),                          // same axis-side, not a dup
    (4L, Seq(0.0f, 1.0f)), (5L, Seq(0.0f, 1.0f)),   // exact dup of 4
    (6L, Seq(0.6f, 0.8f)),                          // not a dup
    (7L, Seq(1.0f, 0.0f))                           // exact dup of 1 and 2
  ).toDF("vid", "vec")

  test("semanticDedup drops greedy smaller-id near-dups within a cell") {
    val out = similarity.semanticDedup(sddVecs, sddVecs, "vid", "vec", 2, 2, 0.95)
      .as[(Long, Int, Long, Int)].collect().sortBy(_._1).toList
    assert(out.map(_._1) == (1L to 7L).toList) // one row per input vector
    val cells = out.map(r => r._1 -> r._2).toMap
    // identical vectors always share a cell (same cosine to every centroid)
    assert(cells(1L) == cells(2L) && cells(2L) == cells(7L))
    assert(cells(4L) == cells(5L))
    // plain-Scala twin of the greedy rule, given the operator's own cells
    val vm = Map(1L -> (1.0, 0.0), 2L -> (1.0, 0.0), 3L -> (0.8f.toDouble, 0.6f.toDouble),
      4L -> (0.0, 1.0), 5L -> (0.0, 1.0), 6L -> (0.6f.toDouble, 0.8f.toDouble), 7L -> (1.0, 0.0))
    def cos(a: (Double, Double), b: (Double, Double)): Double =
      (a._1 * b._1 + a._2 * b._2) /
        (math.sqrt(a._1 * a._1 + a._2 * a._2) * math.sqrt(b._1 * b._1 + b._2 * b._2))
    for ((id, cell, n, kept) <- out) {
      val exp = vm.keys.count(j =>
        j < id && cells(j) == cell && cos(vm(j), vm(id)) >= 0.95)
      assert(n == exp.toLong, s"id=$id n_dups_smaller=$n expected $exp")
      assert(kept == (if (exp == 0) 1 else 0), s"id=$id kept=$kept")
    }
    // exact duplicates of a smaller id are always dropped
    assert(out.filter(r => Set(2L, 5L, 7L)(r._1)).forall(_._4 == 0))
    assert(out.find(_._1 == 7L).get._3 == 2L) // 7 sees both 1 and 2
  }

  test("semanticDedup is partition-invariant") {
    def run(parts: Int) =
      similarity.semanticDedup(sddVecs.repartition(parts), sddVecs,
        "vid", "vec", 2, 2, 0.95)
        .as[(Long, Int, Long, Int)].collect().toSet
    assert(run(1) == run(5))
  }
}
