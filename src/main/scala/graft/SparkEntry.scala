package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{rnd, text}
import graft.operators._
import graft.plans.{Pipeline, stage}

/**
 * Driver contract (SURVEY.md §7): one entry per implemented operator from
 * SURVEY.md §2, each runnable over the read-only testdata parquet at `dir`,
 * with a DuckDB-equivalent oracle in `oracleSql` where the op is
 * SQL-expressible (non-SQL ops — the mapPartitions scorer, the iterative
 * extension loop, the e2e pipeline — get rows-only checks).
 *
 * Cross-engine determinism rules used throughout (so value hashes match):
 * integer/fixed-point arithmetic for rankings, md5 for all hash material,
 * LCG (x*1103515245+12345 mod 2^31) instead of rand(seed) in oracle-checked
 * sampling ops, explicit total-order tie-breaks on every window, and
 * round(_, 6) on any float that crosses an engine boundary.
 */
object SparkEntry {

  /** A testdata table. These are single-split parquet, so a chain of
    * narrow ops over one runs on ONE task unless the query spreads it with
    * `stage.pinned(df)` (measured: q31's 8M Levenshtein pairs on one core,
    * 31 s); at production scale the input's natural splits do that. */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Hand WordPiece vocab for q54 — the single source of truth for the
    * Spark query AND its DuckDB oracle twin (rendered as a VALUES list).
    * Chosen to exercise every branch of the greedy kernel on the documents
    * fixture's words: whole-word hits, multi-piece splits, longest-match
    * preference (custom over cust), dead ends after a partial prefix
    * (slow → slo + missing ##w, spark → s + missing ##park — NO
    * backtracking, whole word becomes [UNK]) and fully-unknown words
    * (vector, dup). */
  private val WpVocab: Seq[String] = Seq(
    "a", "the", "table", "scan", "agg", "row", "key", "join", "data", "big",
    "fast", "line", "value", "part", "hash", "group", "order", "small", "query",
    "wind", "##ow", "fil", "##ter", "custom", "##er", "cust", "##omer",
    "str", "##eam", "bat", "##ch", "col", "##um", "##n", "mer", "##ge",
    "s", "##ort", "slo", "##low")

  // ---------------------------------------------------------------------
  // Flagship: end-to-end KG construction on the tiny synthetic fixture
  // ---------------------------------------------------------------------
  def entry(spark: SparkSession): DataFrame = Pipeline.flagship(spark)._2

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- §2.2 projections / scalar functions -----------------------------
    "q01_normalize" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        text.normalizeCol(col("p_name")).as("norm_name"))),

    "q12_clamp" -> ((s, dir) =>
      score.clamp(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_discount").as("score")))
        .distinct()),

    "q11_identity_removal" -> ((s, dir) =>
      evalmod.dropIdentity(
        t(s, dir, "lineitem").select(
          col("l_suppkey").as("entity1"),
          (pmod(col("l_partkey"), lit(10)) + lit(1)).as("entity2")))
        .distinct()),

    "q13_nes_levenshtein" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_name"))
      val pairs = p.as("a").join(p.as("b"),
        col("a.p_brand") === col("b.p_brand") && col("a.p_partkey") =!= col("b.p_partkey"))
      // NES = max over label pairs of 1 - lev/max(len) (nes_map.py:73-77)
      pairs
        .withColumn("nes", lit(1.0) -
          levenshtein(col("a.p_name"), col("b.p_name")) /
            greatest(length(col("a.p_name")), length(col("b.p_name"))))
        .groupBy(col("a.p_partkey").as("p_partkey"))
        .agg(round(max(col("nes")), 6).as("best_nes"))
    }),

    // --- §2.1/§2.3/§2.4 index + candidate generation ---------------------
    "q02_postings" -> ((s, dir) =>
      index.postingsFromText(t(s, dir, "documents"), "doc_id", "text")),

    "q03_docfreq" -> ((s, dir) =>
      index.docFreq(index.postingsFromText(t(s, dir, "documents"), "doc_id", "text"))),

    "q04_idf_candidates" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val posting = index.postingsFromText(docs, "doc_id", "text")
      val q = posting.filter(col("class_id") < 20)
        .select(col("class_id").as("query_id"), col("token"))
      index.idfCandidates(q, posting, docs.count(), 10, fixedPointIdf = true)
        .withColumnRenamed("rank", "rnk")
    }),

    // --- §2.5 windows / top-k --------------------------------------------
    "q05_topk_window" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
    }),

    "q07_nbest" -> ((s, dir) =>
      // r7: the pre-dedup `.distinct()` was removed — redundant for
      // nBest(n=1): the window keeps ONE row per from_id by the total
      // order (score desc, to_id asc), and duplicate rows are identical
      // triples, so the surviving row's content is unchanged. (For n>1
      // the dedup would matter — duplicates could occupy two ranks.)
      // Drops one full exchange of the scan (plan: 2 Exchange → 1);
      // oracle hash unchanged (re-verified).
      align.nBest(
        t(s, dir, "lineitem").select(
          col("l_orderkey").as("from_id"), col("l_partkey").as("to_id"),
          col("l_extendedprice").as("score")),
        1)),

    "q16_turn_order" -> ((s, dir) => {
      // the graft per-turn ordering invariant: windows over (conv, turn)
      // — here (user_id, ts, event_id) on the events table
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .withColumn("turn_idx", row_number().over(w))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .drop("ts")
    }),

    // --- string-match short-circuit with candidate abandonment (§4) ------
    "q06_stringmatch" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val a = p.filter(col("p_partkey") <= 1000)
      val b = p.filter(col("p_partkey") > 1000)
      val cands = a.select(col("p_partkey").as("from_id"), col("p_brand"))
        .join(b.select(col("p_partkey").as("to_id"), col("p_brand")), "p_brand")
        .select("from_id", "to_id")
      val (matched, remaining) = score.stringMatchSplit(cands,
        a.select(col("p_partkey").as("from_id"), col("p_type").as("label")),
        b.select(col("p_partkey").as("to_id"), col("p_type").as("label")))
      matched.select(col("from_id"), col("to_id"), lit("matched").as("branch"))
        .unionByName(remaining.select(col("from_id"), col("to_id"), lit("remaining").as("branch")))
    }),

    // --- §2.6 set operations ----------------------------------------------
    "q08_union_dedup" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val m1 = o.filter(col("o_orderstatus") === "O").select(
        col("o_custkey").as("entity1"), col("o_orderkey").as("entity2"),
        col("o_totalprice").as("value"))
      val m2 = o.filter(col("o_totalprice") > 100000.0).select(
        col("o_custkey").as("entity1"), col("o_orderkey").as("entity2"),
        col("o_totalprice").as("value"))
      align.combine(m1, m2)
    }),

    // --- §2.10 evaluation ---------------------------------------------------
    "q09_eval_prf" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val pre = li.filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("entity1"), col("l_partkey").as("entity2"))
      val ref = li.filter(col("l_discount") > 0.08)
        .select(col("l_orderkey").as("entity1"), col("l_partkey").as("entity2"))
      val ign = li.filter(col("l_tax") > 0.07)
        .select(col("l_orderkey").as("entity1"), col("l_partkey").as("entity2"))
      evalmod.prfReport(pre, ref, ign)
    }),

    "q10_threshold_sweep" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val pre = li.select(col("l_orderkey").as("entity1"),
        col("l_partkey").as("entity2"), col("l_discount").as("value"))
      val ref = li.filter(col("l_discount") > 0.08)
        .select(col("l_orderkey").as("entity1"), col("l_partkey").as("entity2"))
      val ign = li.filter(col("l_tax") > 0.07)
        .select(col("l_orderkey").as("entity1"), col("l_partkey").as("entity2"))
      evalmod.thresholdSweep(s, pre, ref, ign, Seq(0.0, 0.02, 0.05, 0.07, 0.09, 0.1))
    }),

    // --- §2.7 corpus construction & sampling -------------------------------
    "q32_intra_synonyms" -> ((s, dir) => {
      val classes = t(s, dir, "part").groupBy(col("p_brand").as("class_iri"))
        .agg(sort_array(collect_set(col("p_name"))).as("labels"))
      corpus.intraSynonyms(classes).select("sent1", "sent2", "label", "kind").distinct()
    }),

    "q14_siblings" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      n.as("a").join(n.as("b"),
          col("a.n_regionkey") === col("b.n_regionkey") &&
            col("a.n_name") < col("b.n_name"))
        .select(col("a.n_regionkey").as("n_regionkey"),
          col("a.n_name").as("sent1"), col("b.n_name").as("sent2"))
    }),

    "q15_softneg_sample" -> ((s, dir) => {
      // seeded negative sampling via the portable LCG: partner index
      // (idx + 1 + (r mod (D-1))) mod D guarantees partner != self
      // (general_utils.py:26-30 semantics)
      val p = t(s, dir, "part")
      val d = p.count()
      val w = Window.orderBy("p_partkey")
      val idx = p.select(col("p_partkey"), col("p_brand"), col("p_name"))
        .withColumn("idx", row_number().over(w).cast("long") - 1)
      val partner = idx.select(col("idx").as("o_idx"),
        col("p_name").as("sent2"), col("p_brand").as("o_brand"))
      val drawn = idx
        .withColumn("o_idx",
          pmod(col("idx") + lit(1L) + pmod(rnd.lcg(col("p_partkey")), lit(d - 1)), lit(d)))
        .join(partner, "o_idx")
        .select(col("p_name").as("sent1"), col("sent2"), col("p_brand"), col("o_brand"))
      // negative_sample_check: reject same-class (here same-brand) partners
      drawn.filter(col("p_brand") =!= col("o_brand")).select("sent1", "sent2")
    }),

    // --- ss/us eval test protocol (eval_bertmap.py:94-151): the ignored
    // set for the final test eval is predefined ∪ val (us) or predefined ∪
    // val ∪ train (ss) — both settings evaluated through the one-call
    // operator over a synthetic mapping universe ---------------------------
    "q52_test_protocol" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_custkey") <= 350)
        .select(concat(lit("c"), col("c_custkey")).as("entity1"),
          concat(lit("n"), col("c_nationkey")).as("entity2"),
          col("c_custkey").as("k"))
      val ref = c.select("entity1", "entity2")
      // predictions: true pairs for custkey <= 300, with every 3rd key
      // perturbed to a wrong nation (synthetic FPs)
      val pre = t(s, dir, "customer").filter(col("c_custkey") <= 300)
        .select(concat(lit("c"), col("c_custkey")).as("entity1"),
          concat(lit("n"), col("c_nationkey") +
            when(pmod(col("c_custkey"), lit(3)) === 0, 1).otherwise(0)).as("entity2"))
      val train = c.filter(pmod(col("k"), lit(10)) < 2).select("entity1", "entity2")
      val vals = c.filter(pmod(col("k"), lit(10)) === 2).select("entity1", "entity2")
      val ign = c.filter(pmod(col("k"), lit(50)) === 0).select("entity1", "entity2")
      evalmod.testProtocol(pre, ref, ign, train, vals, semiSupervised = true)
        .unionByName(evalmod.testProtocol(pre, ref, ign, train, vals, semiSupervised = false))
        .select(col("setting"), col("n_mappings"), col("n_ignored"),
          col("n_ref"), col("tp"), round(col("p"), 6).as("p"),
          round(col("r"), 6).as("r"), round(col("f1"), 6).as("f1"))
    }),

    // --- corpus violation counters (intra_onto.py:99-106 removed_violations):
    // the REJECTED side of the soft-negative sampler — identical-label draws
    // and existing-synonym draws, multiplicity preserved. classes = brands,
    // labels = the brand's part TYPES (types repeat across brands, so both
    // violation kinds are reachable) --------------------------------------
    "q53_softneg_violations" -> ((s, dir) => {
      val classes = t(s, dir, "part").filter(col("p_partkey") <= 500)
        .groupBy(col("p_brand").as("class_iri"))
        .agg(sort_array(collect_set(col("p_type"))).as("labels"))
      corpus.softNonsynonymViolations(classes, rate = 2, seed = 7L)
        .groupBy("sent1", "sent2", "kind").agg(count(lit(1)).as("n"))
    }),

    "q45_corpus_merge" -> ((s, dir) => {
      // base + add corpora over part labels; merge re-validates the ADD
      // negatives against the MERGED synonym set (merged_onto.py:57-94)
      val p = t(s, dir, "part").filter(col("p_partkey") <= 400)
        .select(col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
          pmod(floor(col("p_retailprice")).cast("long"), lit(7)).as("p_bucket"))
      def pairs(cond: Column): DataFrame = p.as("a")
        .join(p.as("b"), cond && col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("sent1"), col("b.p_name").as("sent2"))
        .distinct()
      val base = pairs(col("a.p_brand") === col("b.p_brand"))
          .select(col("sent1"), col("sent2"), lit(1).as("label"), lit("syn").as("kind"))
        .unionByName(pairs(col("a.p_size") === col("b.p_size") && col("a.p_brand") =!= col("b.p_brand"))
          .select(col("sent1"), col("sent2"), lit(0).as("label"), lit("soft_neg").as("kind")))
      val add = pairs(col("a.p_type") === col("b.p_type"))
          .select(col("sent1"), col("sent2"), lit(1).as("label"), lit("syn").as("kind"))
        .unionByName(pairs(col("a.p_bucket") === col("b.p_bucket"))
          .select(col("sent1"), col("sent2"), lit(0).as("label"), lit("soft_neg").as("kind")))
      corpus.mergeCorpora(base, add)
    }),

    "q46_cross_softneg" -> ((s, dir) => {
      val p = t(s, dir, "part").filter(col("p_partkey") <= 300)
      val src = p.groupBy(col("p_brand").as("class_iri"))
        .agg(sort_array(collect_set(col("p_name"))).as("labels"))
      val tgt = p.groupBy(col("p_size").as("class_iri"))
        .agg(sort_array(collect_set(col("p_name"))).as("labels"))
      val maps = p.filter(col("p_partkey") <= 60)
        .select(col("p_brand").as("entity1"), col("p_size").as("entity2"))
        .distinct()
      corpus.crossSoftNonsynonyms(maps, src, tgt, rate = 2, seed = 7L)
    }),

    "q47_assemble_splits" -> ((s, dir) => {
      val n = t(s, dir, "nation").select("n_name", "n_nationkey", "n_regionkey")
      def np(cond: Column): DataFrame = n.as("a")
        .join(n.as("b"), cond && col("a.n_name") < col("b.n_name"))
        .select(col("a.n_name").as("sent1"), col("b.n_name").as("sent2"))
      val sameR = col("a.n_regionkey") === col("b.n_regionkey")
      val parity = pmod(col("a.n_nationkey") + col("b.n_nationkey"), lit(2))
      val long = np(sameR)
          .select(col("sent1"), col("sent2"), lit(1).as("label"), lit("syn").as("kind"))
        .unionByName(n.select(col("n_name").as("sent1"), col("n_name").as("sent2"),
          lit(1).as("label"), lit("id_syn").as("kind")))
        .unionByName(np(!sameR && parity === 1)
          .select(col("sent1"), col("sent2"), lit(0).as("label"), lit("soft_neg").as("kind")))
        .unionByName(np(!sameR && parity === 0)
          .select(col("sent1"), col("sent2"), lit(0).as("label"), lit("hard_neg").as("kind")))
      corpus.assembleSplits(long, softNegRate = 1.0, hardNegRate = 1.0,
        valRatio = 0.2, seed = 9L)
    }),

    "q17_splits" -> ((s, dir) =>
      // train/val/test 0.2/0.1/0.7 split, LCG-keyed (cross_onto.py:36-66)
      t(s, dir, "orders").select(col("o_orderkey"),
        when(rnd.lcg(col("o_orderkey")) < 429496729L, "train")
          .when(rnd.lcg(col("o_orderkey")) < 644245094L, "val")
          .otherwise("test").as("split"))),

    "q18_downsample" -> ((s, dir) =>
      // seeded downsample through the real operator (bucketed exact top-k
      // by (LCG, id) order — cross_onto.py:153-174 negative-rate shape)
      corpus.downsampleNegatives(
        t(s, dir, "orders").select(col("o_orderkey")),
        nSyn = 100, negRate = 1.0, seed = 0L, keyCols = Seq("o_orderkey"),
        uCol = Some(rnd.lcg(col("o_orderkey"))))
        .select(col("o_orderkey"), col("rn").cast("int").as("rnk"))),

    // --- dedup family -------------------------------------------------------
    "q19_dedup_exact" -> ((s, dir) =>
      dedup.exact(t(s, dir, "documents"), "doc_id", "text")),

    "q20_shingles" -> ((s, dir) =>
      dedup.shingles(stage.pinned(t(s, dir, "documents")), "doc_id", "text", 2)),

    "q21_minhash_sig" -> ((s, dir) =>
      dedup.minhashLong(stage.pinned(t(s, dir, "documents")), "doc_id", "text", 2, 8)),

    "q22_lsh_pairs" -> ((s, dir) =>
      dedup.lshCandidates(stage.pinned(t(s, dir, "documents")), "doc_id", "text", 2, 8, 2)),

    "q23_ngram_jaccard" -> ((s, dir) =>
      dedup.ngramJaccardPairs(stage.pinned(t(s, dir, "documents")), "doc_id", "text", 2, 0.2, 500)
        .withColumn("jaccard", round(col("jaccard"), 6))),

    // --- end-to-end near-dup canonicalization: the training-data dedup
    // composition — n-gram Jaccard pairs → connected components over the
    // dup graph → one canonical representative per document (min id),
    // exactly the "keep one copy per duplicate cluster" selection a
    // pretraining pipeline runs ------------------------------------------
    "q60_dedup_canonical" -> ((s, dir) => {
      val docs = stage.pinned(t(s, dir, "documents"))
      val pairs = dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.2, 500)
      val comps = canonical.connectedComponents(s,
        pairs.select(col("id1").as("entity1"), col("id2").as("entity2")), 10)
      docs.select(col("doc_id"))
        .join(comps.select(col("id").as("doc_id"), col("canonical")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("canonical"), col("doc_id")).as("canonical"))
        .withColumn("is_canonical",
          (col("doc_id") === col("canonical")).cast("int"))
    }),

    "q24_simhash" -> ((s, dir) =>
      dedup.simhash(t(s, dir, "documents"), "doc_id", "text")),

    "q44_simhash_pairs" -> ((s, dir) =>
      dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", 3)),

    "q27_embed_neardup" -> ((s, dir) =>
      dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding", "label", 0.3)
        .withColumn("cosine", round(col("cosine"), 6))),

    // --- similarity search --------------------------------------------------
    "q25_ann_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 5)
        .withColumn("cosine", round(col("cosine"), 6))
        .withColumnRenamed("rank", "rnk")
    }),

    "q26_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val centroids = e.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select((col("vec_id") / 100).cast("long").as("cell"), col("embedding").as("cvec"))
      similarity.ivfTopK(e.filter(col("vec_id") < 10), e, centroids,
          "vec_id", "embedding", 3, 2)
        .withColumn("cosine", round(col("cosine"), 6))
        .withColumnRenamed("rank", "rnk")
    }),

    // --- text analysis -------------------------------------------------------
    // --- seeded k-means centroid fit (the IVF trainer): content-keyed
    // init, 2 fixed Lloyd rounds, all-integer update arithmetic. Emitted
    // in exploded scalar form (the q41 pattern): the driver's pandas
    // canonicalizer cannot sort array cells ------------------------------
    "q55_kmeans_fit" -> ((s, dir) =>
      similarity.kmeansFit(t(s, dir, "embeddings").filter(col("vec_id") < 200),
        "vec_id", "embedding", 4, 2)
        .select(col("cell"), col("n_assigned"),
          posexplode(col("centroid")).as(Seq("pos", "cval")))
        .withColumn("pos", col("pos").cast("long"))),

    // --- fitted IVF end-to-end: kmeansFit centroids feed ivfTopK — the
    // whole self-contained ANN story (train + assign + probe + top-k) as
    // one engine-exact composition -----------------------------------------
    "q57_ivf_fitted" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      val cen = similarity.fitCentroidsForIvf(
        similarity.kmeansFit(vecs, "vec_id", "embedding", 4, 2))
      similarity.ivfTopK(vecs.filter(col("vec_id") < 20), vecs, cen,
          "vec_id", "embedding", 3, 2)
        .withColumn("cosine", round(col("cosine"), 6))
        .withColumnRenamed("rank", "rnk")
    }),

    // --- WordPiece through the candidate engine: vocab-driven postings on
    // both sides feeding the fixed-point IDF candidate join — the
    // candidate-recall path a real-vocab user runs ------------------------
    "q58_wordpiece_candidates" -> ((s, dir) => {
      val docs = stage.pinned(t(s, dir, "documents"))
      val vocabBc = s.sparkContext.broadcast(WpVocab.toSet)
      val tok = (c: Column) => graft.functions.text.wordpieceTokensCol(vocabBc)(c)
      val from = docs.filter(col("doc_id") < 250)
      val to = docs.filter(col("doc_id") >= 250)
      val qTok = index.postingsFromText(from, "doc_id", "text", 0, tok)
        .withColumnRenamed("class_id", "query_id")
      val post = index.postingsFromText(to, "doc_id", "text", 0, tok)
      // r7: postings side is the bounded catalog of this query — force the
      // broadcast so the token fan-out aggregates inside the query_id-
      // pinned partitioning instead of shuffling at full volume (measured
      // 143 MB at sf0.1; same argument as align.direction)
      index.idfCandidates(qTok, post, to.count(), 5,
          broadcastPostings = Some(true),
          widthHint = stage.width(s), fixedPointIdf = true)
        .withColumnRenamed("rank", "rnk")
    }),

    "q28_lang_quality" -> ((s, dir) => {
      val toks = text.wordTokensCol(col("text"))
      def hits(words: Seq[String]): Column =
        size(filter(toks, x => x.isin(words.map(lit(_)): _*)))
      val en = hits(Seq("the", "and", "of", "to", "is", "with", "that"))
      val de = hits(Seq("der", "die", "das", "und", "ist", "mit", "ein"))
      val fr = hits(Seq("le", "la", "les", "et", "est", "avec", "une"))
      val es = hits(Seq("el", "la", "los", "y", "es", "con", "una"))
      t(s, dir, "documents").select(
        col("doc_id"),
        en.as("en_hits"), de.as("de_hits"), fr.as("fr_hits"), es.as("es_hits"),
        when(greatest(en, de, fr, es) === 0, "und")
          .when(de >= en && de >= es && de >= fr, "de")
          .when(en >= es && en >= fr, "en")
          .when(es >= fr, "es")
          .otherwise("fr").as("pred_lang"),
        size(toks).as("n_words"),
        size(filter(toks, x => x.isin(text.stopWords.toSeq.map(lit(_)): _*))).as("n_stop"),
        round(length(regexp_replace(col("text"), "[^a-zA-Z]", "")) / length(col("text")), 6)
          .as("alpha_ratio"))
    }),

    "q29_token_count" -> ((s, dir) => {
      // BPE-ish deterministic token count: 1 piece for words <= 4 chars,
      // 1 + ceil((len-4)/4) pieces otherwise (text.subwordTokens closed form)
      val toks = text.wordTokensCol(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
        aggregate(toks, lit(0L), (acc, w) =>
          acc + when(length(w) <= 4, 1L)
            .otherwise(lit(1L) + ceil((length(w) - 4) / 4.0).cast("long"))).as("n_tokens"))
    }),

    "q30_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        md5(text.normalizeCol(col("text"))).as("fp"))),

    // --- §2.8 scorer (mapPartitions, broadcast params) ----------------------
    "q31_scorer_pairs" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_name"))
      // wide left side × broadcast right: the pair generation AND the
      // scorer inherit cluster width (a 1-split × broadcast join has no
      // exchange — measured as 8M pairs scored on one core without this)
      val pairs = stage.pinned(p).as("a").join(broadcast(p).as("b"),
          col("a.p_brand") === col("b.p_brand") && col("a.p_partkey") < col("b.p_partkey"))
        .select(col("a.p_partkey").as("from_id"), col("b.p_partkey").as("to_id"),
          col("a.p_name").as("l1"), col("b.p_name").as("l2"))
      // typed MapPartitions variant: Catalyst/AQE keep owning the plan
      // around the scorer (the df.rdd route is an optimizer barrier)
      score.scoreLabelPairsTyped(s, pairs)
        .select(col("from_id").cast("long").as("from_id"),
          col("to_id").cast("long").as("to_id"), col("l1"), col("l2"),
          round(col("pair_score"), 6).as("pair_score"))
    }),

    // --- multimodal plumbing -------------------------------------------------
    "q33_media_meta" -> ((s, dir) =>
      multimodal.mediaMeta(
        t(s, dir, "documents").select(col("doc_id"),
          col("text").cast("binary").as("payload")),
        "doc_id", "payload")),

    // --- event-time windowed agg (streaming-shaped, batch-checked) ----------
    // --- real container-header decode round trip: payloads are BUILT from
    // doc_id-derived fields (the batched "encode" hop), then headerMeta
    // PARSES the bytes back; the oracle recomputes the fields from doc_id
    // directly — any endianness/offset bug in builder or parser mismatches
    "q56_media_header" -> ((s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents").filter(col("doc_id") < 256)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val p = (id % 4) match {
            case 0 => multimodal.pngBytes((16 + id % 1000).toInt, (9 + id % 500).toInt)
            case 1 => multimodal.jpegBytes((32 + id % 800).toInt, (24 + id % 600).toInt, 3)
            case 2 => multimodal.gifBytes((8 + id % 300).toInt, (6 + id % 200).toInt)
            case _ => multimodal.wavBytes((1 + id % 2).toInt, (8000 * (1 + id % 3)).toInt)
          }
          (id, p)
        }).toDF("doc_id", "payload")
      multimodal.headerMeta(s, payloads, "doc_id", "payload")
        .withColumnRenamed("id", "doc_id")
    }),

    "q34_sessionize" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 6).as("min_v"),
          round(max(col("value")), 6).as("max_v"))),

    // --- §2.9 canonicalization / repair -------------------------------------
    "q35_connected_components" -> ((s, dir) => {
      val e = t(s, dir, "nation").join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name").as("entity1"), col("r_name").as("entity2"))
      canonical.connectedComponents(s, e, 5)
    }),

    "q36_repair_onetoone" -> ((s, dir) =>
      // r7: the pre-dedup `.distinct()` was removed — provably redundant:
      // oneToOne's windows keep the top-1 row per entity by the total
      // order (value desc, partner asc), and duplicate input rows are
      // IDENTICAL triples, so the surviving row's content is the same
      // with or without the dedup. Drops one full (e1, e2, value)
      // exchange of the big side (plan: 3 Exchange → 2); oracle hash
      // unchanged (re-verified).
      repair.oneToOne(
        t(s, dir, "lineitem").select(
          col("l_orderkey").cast("string").as("entity1"),
          col("l_partkey").cast("string").as("entity2"),
          col("l_extendedprice").as("value")))),

    // --- classic relational headliners (pushdown/agg/join sanity) -----------
    "q37_agg_baseline" -> ((s, dir) =>
      // sums accumulate in exact decimal (order-independent), then cast to
      // DOUBLE for emission: Spark widens sum(decimal(12,2)) to decimal(22,2)
      // while DuckDB widens to decimal(38,2), and the two decimal widths
      // render differently in the driver's hash — a common DOUBLE does not
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity").cast("decimal(12,2)")).cast("double"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double"), 2).as("sum_price"),
          count(lit(1)).as("n"))),

    "q38_join_groupby" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("revenue"),
          count(lit(1)).as("n_orders"))),

    // --- §2.4 vector mean (class embedding), long form ----------------------
    "q41_class_embedding" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("dim", col("dim").cast("long"))
        .groupBy("label", "dim")
        .agg(round(avg(col("v").cast("double")), 6).as("mean_v"))),

    // --- §2.7 class depth via iterative frontier join ------------------------
    "q42_depth" -> ((s, dir) => {
      val e = t(s, dir, "orders").filter(col("o_orderkey") >= 10)
        .select(col("o_orderkey").as("child_iri"),
          (col("o_orderkey") / 10).cast("long").as("parent_iri"))
        .distinct()
      hierarchy.depthMax(s, e)
    }),

    // --- §2.2 IRI abbreviate / expand ----------------------------------------
    "q43_iri_abbrev" -> ((s, dir) => {
      val prefixes = Map("http://example.org/part/" -> "px",
        "http://example.org/supplier/" -> "sx")
      val base = t(s, dir, "part").select(
        concat(lit("http://example.org/part/"), col("p_partkey")).as("iri"))
      base.select(col("iri"),
        graft.functions.iri.abbreviate(col("iri"), prefixes).as("abbrev"))
        .withColumn("roundtrip",
          graft.functions.iri.expand(col("abbrev"), prefixes))
    }),

    "q39_extend_loop" -> ((s, dir) => {
      val e = t(s, dir, "nation").join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_name").as("child_iri"), col("r_name").as("parent_iri"))
      val labels = t(s, dir, "nation").select(col("n_name").as("id"), lower(col("n_name")).as("label"))
        .unionByName(t(s, dir, "region").select(col("r_name").as("id"), lower(col("r_name")).as("label")))
      val seeds = t(s, dir, "nation").select(
        col("n_name").as("entity1"), col("n_name").as("entity2"), lit(1.0).as("value"))
      extend.extendMappings(s, seeds, e, e, labels, labels, 0.9, 3)
        .withColumn("value", round(col("value"), 6))
    }),

    "q40_pipeline_e2e" -> ((s, dir) => Pipeline.flagship(s)._2),

    // --- flagship GOLDEN gate: the whole-program mapping quality as one
    // machine-checkable row. Runs the full alignment on the deterministic
    // tiny fixture, evaluates vs the fixture's by-construction reference
    // with the reference's own protocol (best-F1 threshold over the sweep,
    // ignored set excluded both sides — eval_bertmap.py:180-248), and emits
    // the selected row. The pipeline is partition-invariant by design
    // (DeterminismSpec), so these six numbers are constants of the code —
    // the oracle pins them as a constant SELECT ---------------------------
    "q40g_golden_prf" -> ((s, dir) => {
      val refs = graft.sources.fixtures.refMappings(s, graft.sources.fixtures.tiny)
      val (mappings, _) = Pipeline.flagship(s)
      val ref = refs.filter(!col("is_ignored")).select("entity1", "entity2", "value")
      val ign = refs.filter(col("is_ignored")).select("entity1", "entity2", "value")
      val sweep = evalmod.thresholdSweep(s, mappings, ref, ign)
      evalmod.bestByF1(sweep).select(
        round(col("threshold"), 6).as("threshold"),
        col("n_mappings"), col("n_ignored"), col("p"), col("r"), col("f1"))
    }),

    // --- flagship TRIPLE-SET gate: the q40 output itself, reduced to one
    // partition-invariant digest row the oracle can pin as constants (the
    // same argument as q40g: the pipeline is partition-invariant by
    // DeterminismSpec and the fixture is a pure function of seed 42, so
    // the triple multiset — hence any content digest of it — is a constant
    // of the code; canonical.tripleDigest). Closes the one rows-only gap:
    // q40's emitted triples are now hash-compared by the driver, not just
    // counted. -----------------------------------------------------------
    "q40t_triples_hash" -> ((s, dir) => canonical.tripleDigest(Pipeline.flagship(s)._2)),

    // --- index-vocab cross-path gate: q40/q40g/q40t run the default path
    // (`plans.Main`'s: rawMappings induces the WordPiece vocab from the
    // labels it aligns); this query runs the identical pipeline with the
    // vocab passed in as `Params.wordpieceVocab`, as perfbench and
    // graft.Bench do, and digests its triples. The oracle pins the SAME
    // constants as q40t: on the fixture the two ways to get the vocab must
    // land the identical triple set, so any divergence turns a constant
    // red -------------------------------------------------------------------
    "q61_subword_flagship" -> ((s, dir) => {
      val cfg = graft.sources.fixtures.tiny
      val classes = graft.sources.fixtures.classes(s, cfg)
      val (_, trip) = Pipeline.run(s,
        graft.sources.fixtures.transcripts(s, cfg),
        classes,
        graft.sources.fixtures.edges(s, cfg),
        Pipeline.Params(wordpieceVocab = Some(Pipeline.induceCatalogVocab(s, classes))))
      canonical.tripleDigest(trip)
    }),

    // --- BPE/WordPiece vocab induction (tokenizer training): the merge
    // table learned from the seed-42 fixture transcripts. Deterministic by
    // construction (integer weighted counts, explicit argmax tie-breaks,
    // VocabSpec pins partition-invariance), and the fixture is a pure
    // function of its seed — so the learned merges are CONSTANTS of the
    // code, pinned by the oracle exactly like q40g/q40t ------------------
    "q59_bpe_merges" -> ((s, dir) => {
      val turns = graft.sources.fixtures.transcripts(s, graft.sources.fixtures.tiny)
      val hist = vocab.wordHistogram(turns.toDF(), "text")
      vocab.learnMerges(s, hist, 12)
    }),

    // --- mention detect + stabilize, DuckDB-oracled: the join-based detect
    // kernel (greedy longest-match over word n-grams — same semantics as
    // the broadcast trie, pinned equal by MentionsSpec) over the documents
    // table as synthetic turns, with a hand dictionary that exercises
    // longest-match consumption, multi-label classes and shared surfaces.
    // The oracle replicates the greedy walk as a recursive CTE ------------
    "q51_detect_greedy" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 200 && col("lang") === "en")
      val turns = docs.select(
          concat(lit("d"), (col("doc_id") / 4).cast("long").cast("string")).as("conv_id"),
          pmod(col("doc_id"), lit(4)).cast("int").as("turn_idx"),
          lit("user").as("role"), col("text"),
          lit(null).cast("string").as("tool"),
          lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")).as("ts"))
        .as[graft.model.Turn]
      val dict = Seq(
        graft.model.ClassText("src", "src:T1", 0L, Seq("fast table")),
        graft.model.ClassText("src", "src:T2", 1L, Seq("table")),
        graft.model.ClassText("src", "src:T3", 2L, Seq("scan")),
        graft.model.ClassText("src", "src:T4", 3L, Seq("window table")),
        graft.model.ClassText("src", "src:T5", 4L, Seq("agg", "agg row")),
        graft.model.ClassText("src", "src:T6", 5L, Seq("scan")),
        graft.model.ClassText("src", "src:T7", 6L, Seq("slow fast"))
      ).toDS()
      mentions.stabilize(mentions.detectJoin(s, turns, dict).toDF())
    }),

    // --- sub-word inverted index (onto_index.py:46-47 WordPiece postings) ---
    "q48_subword_postings" -> ((s, dir) =>
      index.postingsFromText(t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", 0, c => graft.functions.text.subwordTokensCol(c))),

    // --- vocab-driven WordPiece postings (onto_index.py:38-47: the real
    // BERT-vocab greedy longest-match tokenizer, vocab broadcast once) ----
    "q54_wordpiece_postings" -> ((s, dir) => {
      val vocabBc = s.sparkContext.broadcast(WpVocab.toSet)
      index.postingsFromText(t(s, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", 0, c => graft.functions.text.wordpieceTokensCol(vocabBc)(c))
    }),

    // --- embeds-mode alignment (bert_embeds_map.py:49-136), fixed-point IDF
    // candidates + cosine n-best over per-doc vectors from the embeddings
    // table (the class-embedding MEAN is oracled separately by q41) --------
    "q49_embeds_align" -> ((s, dir) => {
      val docs = stage.pinned(t(s, dir, "documents"))
      val vecs = t(s, dir, "embeddings").select(
        col("vec_id").cast("string").as("id"),
        similarity.toDoubleArray(col("embedding")).as("emb"))
      val fromLab = docs.filter(col("doc_id") < 250)
        .select(col("doc_id").cast("string").as("id"), col("text").as("label"))
      val toLab = docs.filter(col("doc_id") >= 250)
        .select(col("doc_id").cast("string").as("id"), col("text").as("label"))
      align.direction(index.postingsFromText(fromLab, "id", "label"),
          index.postingsFromText(toLab, "id", "label"), toLab.count(), 5, 1,
          fixedPointIdf = true)(embeds.hop(vecs, vecs))
        .withColumn("score", round(col("score"), 6))
    }),

    // --- NES-mode alignment (nes_map.py:36-77) — the codegen'd Column
    // scorer over IDF candidates, fully declarative --------------------------
    "q50_nes_align" -> ((s, dir) => {
      val docs = stage.pinned(t(s, dir, "documents"))
      val fromLab = docs.filter(col("doc_id") < 250)
        .select(col("doc_id").cast("string").as("id"), col("text").as("label"))
      val toLab = docs.filter(col("doc_id") >= 250)
        .select(col("doc_id").cast("string").as("id"), col("text").as("label"))
      align.direction(index.postingsFromText(fromLab, "id", "label"),
          index.postingsFromText(toLab, "id", "label"), toLab.count(), 5, 1,
          fixedPointIdf = true)(nes.hop(fromLab, toLab, score.ScorerParams()))
        .withColumn("score", round(col("score"), 6))
    }),

    // --- product-quantized ANN: per-subspace kmeansFit codebooks → integer
    // code table (the compression step: 64 floats → 2 codes) → ADC top-k
    // against per-query lookup tables. The memory-bound 10^10-vector scale
    // path, composed entirely from the fitted-k-means machinery ------------
    "q65_pq_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = similarity.pqFitCodebooks(e.filter(col("vec_id") < 200),
        "vec_id", "embedding", 2, 32, 4, 2)
      val codes = similarity.pqEncode(e, cb, "vec_id", "embedding", 2, 32)
      similarity.pqTopK(e.filter(col("vec_id") < 10), codes, cb,
          "vec_id", "embedding", 5, 2, 32)
        .withColumn("adc_cosine", round(col("adc_cosine"), 6))
        .withColumnRenamed("rank", "rnk")
    }),

    // --- IVF + PQ: the production ANN composition — fitted coarse
    // quantizer routes each query to 2 probed cells, fitted PQ codebooks
    // score by ADC inside them only ----------------------------------------
    "q66_ivfpq_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val fit = e.filter(col("vec_id") < 200)
      val coarse = similarity.fitCentroidsForIvf(
        similarity.kmeansFit(fit, "vec_id", "embedding", 4, 2))
      val cb = similarity.pqFitCodebooks(fit, "vec_id", "embedding", 2, 32, 4, 2)
      similarity.ivfPqTopK(e.filter(col("vec_id") < 10), e, coarse, cb,
          "vec_id", "embedding", 3, 2, 2, 32)
        .withColumn("adc_cosine", round(col("adc_cosine"), 6))
        .withColumnRenamed("rank", "rnk")
    }),

    // --- Gopher-style repetition quality metrics: dup-word fraction (no
    // shuffle), top-bigram and dup-bigram occupancy (narrow contentKey
    // shuffles with map-side combine) — the filter signals a pretraining
    // pipeline thresholds on ------------------------------------------------
    "q62_repetition" -> ((s, dir) =>
      quality.repetitionMetrics(stage.pinned(t(s, dir, "documents")), "doc_id", "text")
        .withColumn("dup_word_frac", round(col("dup_word_frac"), 6))
        .withColumn("top_bigram_frac", round(col("top_bigram_frac"), 6))
        .withColumn("dup_bigram_frac", round(col("dup_bigram_frac"), 6))),

    // --- deterministic per-domain quota sampling (domain mixing): rank by
    // md5(id) within source via 256 md5-prefix range buckets (the skew-free
    // formulation — no per-domain single-task window), keep <= quota, with
    // per-domain quotas carried as data ------------------------------------
    "q63_quota_sample" -> ((s, dir) => {
      val docs = stage.pinned(t(s, dir, "documents"))
      val quotas = docs.select(col("source").as("grp")).distinct()
        .withColumn("quota", when(length(col("grp")) === 4, 8).otherwise(4))
      quality.quotaSample(docs, "doc_id", "source", quotas)
    }),

    // --- benchmark decontamination: training docs sharing >= 2 distinct
    // word 3-shingles with the benchmark slice (doc_id % 20 == 0) are
    // flagged; the benchmark shingle-key set is broadcast so the training
    // side never shuffles ---------------------------------------------------
    "q64_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      quality.decontaminate(
        stage.pinned(docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text", 3, 2L)
    }),

    // --- JSONL raw-dump ingest, driver-visible: a FIXED literal dump
    // (deterministic — no clocks, no randomness) written to /tmp, read
    // back through the asserted-schema one-pass ingest with corrupt-line
    // quarantine; the oracle re-parses the SAME file with DuckDB's
    // read_json and must agree on the good count, the quarantine count
    // and a content digest of every good field (incl. ts epoch). The six
    // corrupt shapes cover: malformed JSON, missing identity fields,
    // wrong-typed turn_idx and an unparseable ts (partial-results drift).
    "q67_jsonl_ingest" -> ((s, dir) => {
      val lines = Seq(
        """{"conv_id":"c1","turn_idx":0,"role":"user","text":"hello graft","tool":null,"ts":"2026-01-02T03:04:05.000Z"}""",
        """{"conv_id":"c1","turn_idx":1,"role":"assistant","text":"running a table scan","tool":"search","ts":"2026-01-02T03:04:06.000Z"}""",
        """{"conv_id":"c2","turn_idx":0,"role":"user","text":"group by keys","ts":"2026-01-02T03:05:00.000Z"}""",
        """{"conv_id":"c2","turn_idx":1,"role":"assistant","text":"window order"}""",
        """{"conv_id":"c3","turn_idx":0,"role":"tool","text":"join result rows","tool":"sql","ts":"2026-01-02T03:06:07.000Z"}""",
        """{"conv_id":"c3","turn_idx":1,"role":"user","text":"dedup the corpus","tool":null,"ts":"2026-01-02T03:06:08.000Z"}""",
        """not json at all {{{""",
        """{"turn_idx":2,"text":"missing conv id"}""",
        """{"conv_id":"c9","turn_idx":"NaN","role":"user","text":"bad turn idx"}""",
        """{"conv_id":"c9","turn_idx":3,"role":"user","text":"bad ts","ts":"not-a-timestamp"}""")
      val qdir = java.nio.file.Paths.get("/tmp/graft-q67")
      java.nio.file.Files.createDirectories(qdir)
      java.nio.file.Files.write(qdir.resolve("raw.jsonl"),
        lines.mkString("\n").getBytes("UTF-8"))
      val (good, corrupt) =
        graft.sources.tables.readTranscriptsJsonl(s, "/tmp/graft-q67/raw.jsonl")
      val rowKey = concat_ws("\u0001", col("conv_id"),
        col("turn_idx").cast("string"), col("role"), col("text"), col("tool"),
        unix_timestamp(col("ts")).cast("string"))
      val h = pmod(conv(substring(md5(rowKey), 1, 15), 16, 10).cast("long"),
        lit(2147483648L))
      good.agg(count(lit(1)).as("n_good"), sum(h).as("good_digest"))
        .crossJoin(corrupt.agg(count(lit(1)).as("n_corrupt")))
        .select(col("n_good"), col("n_corrupt"), col("good_digest"))
    }),

    // --- batch twin of the streaming first-seen dedup ledger: survivor
    // per normalized-content hash = min (arrival, id), arrival being a
    // seeded LCG over doc_id so the ledger order differs from the id
    // order (q19's min-id rule) and the two operators stay distinguishable
    "q68_dedup_ledger" -> ((s, dir) =>
      dedup.firstSeenLedger(t(s, dir, "documents"), "doc_id", "text",
        rnd.lcg(col("doc_id")))),

    // --- random-hyperplane embedding LSH near-dup pairs: md5-derived ±1
    // projections in 10^6 fixed point → banded bit signatures → bucket
    // self-join → exact-cosine verify. The no-blocking-key embedding-dedup
    // scale path (q27 needs a caller-supplied block) ------------------------
    "q69_embed_lsh" -> ((s, dir) =>
      dedup.embeddingLshPairs(stage.pinned(t(s, dir, "embeddings")), "vec_id", "embedding",
          planes = 32, bands = 4, threshold = 0.3)
        .withColumn("cosine", round(col("cosine"), 6))),

    // --- gap-based sessionization over the events table: session_ord via
    // lag + running sum in ONE keyed window (prefix-compatible specs — a
    // single sort); per-session aggregates carry integer cents so no float
    // sum crosses the engine boundary ---------------------------------------
    "q70_sessionize_gap" -> ((s, dir) => {
      val sess = graft.streaming.stream.sessionizeGap(
        t(s, dir, "events"), "user_id", "ts", "event_id", 600.0)
      sess.groupBy(col("user_id"), col("session_ord"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
    }),

    // --- PII redaction scrub: emails → <EMAIL>, dotted quads → <IP>,
    // phone-shaped digit groups → <PHONE>, applied sequentially, with
    // per-doc counts + a digest of the redacted text. The fixture corpus
    // carries no PII, so the query injects a deterministic doc_id-derived
    // suffix (one email, one IP, one phone per doc); the oracle injects
    // the identical string and runs the identical RE2-safe patterns ---------
    "q71_redact_pii" -> ((s, dir) => {
      val injected = stage.pinned(t(s, dir, "documents")).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com via 10."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit(".0.1 tel 555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-0199")).as("text"))
      quality.redactPii(injected, "doc_id", "text")
        .select(col("id"), col("n_email"), col("n_ipv4"), col("n_phone"),
          md5(col("redacted")).as("red_md5"))
    }),

    // --- exact-substring dedup (Lee et al. 2022) as duplicated k-gram
    // span merge: corpus-wide k-gram occurrence counts over 8-byte
    // contentKeys → duplicate positions → per-doc gaps-and-islands merge
    // into maximal (span_start, span_end) token spans -----------------------
    "q72_dup_spans" -> ((s, dir) =>
      dedup.duplicateSpans(stage.pinned(t(s, dir, "documents")), "doc_id", "text",
        k = dupSpanK)),

    // --- GPT-style concat-and-chunk sequence packing: deterministic
    // (md5(id), id) concat order, 64-token chunks; global token offset =
    // exclusive prefix sum via 256 md5-prefix range buckets + a
    // dimension-sized bucket-base table (no single-task global window) ------
    "q73_pack_sequences" -> ((s, dir) =>
      quality.packSequences(stage.pinned(t(s, dir, "documents")), "doc_id",
        "text", 64L)),

    // --- CCNet-style bigram-LM perplexity scoring: add-one-smoothed
    // bigram model fit on the corpus, every document scored by exact
    // fixed-point NLL (Σ floor(−10⁶·ln p) as BIGINT — associative, so
    // partition- and engine-invariant) ---------------------------------------
    "q74_lm_perplexity" -> ((s, dir) => {
      val docs = stage.pinned(t(s, dir, "documents"))
      quality.lmPerplexity(docs, docs, "doc_id", "text")
    }),

    // --- SemDeDup semantic dedup: fitted k-means clusters block the
    // pairwise cosine; within a cluster every vector with a smaller-id
    // neighbor at cosine ≥ τ is dropped (greedy rule, id total order) --------
    "q75_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      similarity.semanticDedup(e, e.filter(col("vec_id") < 200),
        "vec_id", "embedding", 4, 2, 0.4)
    }),

    // --- DSIR importance weighting: target LM (source = src0) vs
    // background LM (whole corpus), log w = NLL_bg − NLL_target in the
    // exact fixed-point domain; one scoring pass over the corpus ------------
    "q76_dsir_weights" -> ((s, dir) => {
      val docs = stage.pinned(t(s, dir, "documents"))
      quality.dsirWeights(docs.filter(col("source") === "src0"), docs, docs,
        "doc_id", "text")
    }),

    // --- Gumbel-top-k weighted sampling over the DSIR weights — the
    // selection step (sampling without replacement ∝ softmax of log w);
    // content-keyed noise, exact fixed-point keys, global top-50 ----------
    "q77_gumbel_topk" -> ((s, dir) => {
      val docs = stage.pinned(t(s, dir, "documents"))
      val wts = quality.dsirWeights(docs.filter(col("source") === "src0"),
        docs, docs, "doc_id", "text")
      quality.gumbelTopK(wts, "id", "logw_fp", 50, seed = 7L)
    })
  )

  /** k-gram length for q72 — shared by the query and its oracle twin. */
  private val dupSpanK = 8

  def oracleSql: Map[String, String] = {
    // shared SQL fragments
    val toks = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    val postingCte =
      s"""posting AS (
         |  SELECT DISTINCT doc_id AS class_id, token FROM (
         |    SELECT doc_id, unnest($toks) AS token FROM documents) u
         |  WHERE length(token) > 0)""".stripMargin
    val shingleCte =
      s"""sh AS (
         |  SELECT DISTINCT doc_id AS id, array_to_string(tt[g:g+1], ' ') AS shingle
         |  FROM (SELECT doc_id, $toks AS tt FROM documents) d,
         |       unnest(generate_series(1, len(tt)-1)) AS u(g))""".stripMargin
    val lcgSql = (k: String) => s"(($k * 1103515245 + 12345) % 2147483648)"
    // DuckDB twin of rnd.keyed(seed, cols...): md5 over chr(1)-joined parts,
    // first 15 hex chars as BIGINT, fold in the seed mod 2^31, then the LCG
    val keyedSql = (seed: Long, parts: Seq[String]) => {
      val h = s"(('0x' || substring(md5(concat_ws(chr(1), ${parts.mkString(", ")})), 1, 15))::BIGINT)"
      s"(((($h + $seed) % 2147483648) * 1103515245 + 12345) % 2147483648)"
    }
    // simhash band signature CTE (same bit convention as dedup.simhash:
    // token-hash bit j = nibble bit j%4 of md5 hex digit j/4)
    val simhashSigCte =
      s"""tw AS (
         |  SELECT doc_id AS id, token, count(*) AS w, md5(token) AS hx
         |  FROM (SELECT doc_id, unnest($toks) AS token FROM documents)
         |  GROUP BY 1, 2),
         |votes AS (
         |  SELECT id, b.b AS bit,
         |    SUM(CASE WHEN ((strpos('0123456789abcdef', substr(hx, CAST(b.b // 4 AS INT) + 1, 1)) - 1)
         |                   >> CAST(b.b % 4 AS INT)) % 2 = 1 THEN w ELSE -w END) AS vote
         |  FROM tw, (SELECT unnest(generate_series(0, 63)) AS b) b
         |  GROUP BY 1, 2),
         |sig AS (
         |  SELECT id,
         |    CAST(SUM(CASE WHEN bit < 16 AND vote > 0 THEN (CAST(1 AS BIGINT) << CAST(bit % 16 AS INT)) ELSE 0 END) AS BIGINT) AS b0,
         |    CAST(SUM(CASE WHEN bit >= 16 AND bit < 32 AND vote > 0 THEN (CAST(1 AS BIGINT) << CAST(bit % 16 AS INT)) ELSE 0 END) AS BIGINT) AS b1,
         |    CAST(SUM(CASE WHEN bit >= 32 AND bit < 48 AND vote > 0 THEN (CAST(1 AS BIGINT) << CAST(bit % 16 AS INT)) ELSE 0 END) AS BIGINT) AS b2,
         |    CAST(SUM(CASE WHEN bit >= 48 AND vote > 0 THEN (CAST(1 AS BIGINT) << CAST(bit % 16 AS INT)) ELSE 0 END) AS BIGINT) AS b3
         |  FROM votes GROUP BY id)""".stripMargin
    // fixed-point k-means CTEs (q55/q57): `vec(id, v)` in the 10^6-integer
    // domain, then 2 unrolled Lloyd rounds yielding c1 / c2n / c2
    val kmeansVecCte =
      """vec AS (
        |  SELECT CAST(vec_id AS VARCHAR) AS id,
        |    list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000) AS BIGINT)) AS v
        |  FROM embeddings WHERE vec_id < 200)""".stripMargin
    // Generator form so the PQ oracle (q65) can instantiate one unrolled
    // Lloyd chain PER SUBSPACE with prefixed CTE names; q55/q57 use the
    // unprefixed instance over the full `vec`.
    def kmeansCtesFor(pfx: String, vecName: String, k: Int): String = {
      val xd = (c: String) => s"list_transform($c, e -> CAST(e AS DOUBLE))"
      val cos = (a: String, b: String) => {
        val den = s"(sqrt(list_dot_product(${xd(a)}, ${xd(a)})) * " +
          s"sqrt(list_dot_product(${xd(b)}, ${xd(b)})))"
        s"(CASE WHEN $den = 0 THEN 0.0 ELSE " +
          s"list_dot_product(${xd(a)}, ${xd(b)}) / $den END)"
      }
      def round(i: Int, prevC: String) =
        s"""${pfx}a$i AS (
           |  SELECT id, v, cell FROM (
           |    SELECT x.id, x.v, i.cell,
           |      ROW_NUMBER() OVER (PARTITION BY x.id
           |        ORDER BY ${cos("x.v", "i.c")} DESC, i.cell ASC) AS rk
           |    FROM $vecName x CROSS JOIN $prevC i) t WHERE rk = 1),
           |${pfx}u$i AS (
           |  SELECT a.cell, s.p AS pos,
           |    CAST(SUM(a.v[s.p]) AS BIGINT) // COUNT(*) AS cv,
           |    COUNT(*) AS cnt
           |  FROM ${pfx}a$i a, unnest(generate_series(1, len(a.v))) AS s(p)
           |  GROUP BY 1, 2),
           |${pfx}c${i}n AS (SELECT cell, list(cv ORDER BY pos) AS c, MAX(cnt) AS n
           |           FROM ${pfx}u$i GROUP BY cell),
           |${pfx}c$i AS (SELECT p.cell, COALESCE(n.c, p.c) AS c
           |        FROM $prevC p LEFT JOIN ${pfx}c${i}n n USING (cell))""".stripMargin
      s"""${pfx}init AS (
         |  SELECT CAST(rn AS INT) AS cell, v AS c FROM (
         |    SELECT v, ROW_NUMBER() OVER (ORDER BY md5(id), id) AS rn FROM $vecName) t
         |  WHERE rn <= $k),
         |${round(1, s"${pfx}init")},
         |${round(2, s"${pfx}c1")}""".stripMargin
    }
    val kmeansCtes = kmeansCtesFor("", "vec", 4)
    // shared PQ CTE block (q65/q66): per-subspace Lloyd chains → `cb`
    // codebook, `allv`/`env`/`enc` code table, `q`/`lut`/`qn` query-side
    // lookup material. Requires the `vec` fit CTE in scope.
    val pqCoreCtes =
      s"""s0vec AS (SELECT id, v[1:32] AS v FROM vec),
         |s1vec AS (SELECT id, v[33:64] AS v FROM vec),
         |${kmeansCtesFor("s0", "s0vec", 4)},
         |${kmeansCtesFor("s1", "s1vec", 4)},
         |cb AS (
         |  SELECT 0 AS subspace, cell, list_transform(c, x -> CAST(x AS DOUBLE) / 1000000.0) AS cv FROM s0c2
         |  UNION ALL
         |  SELECT 1, cell, list_transform(c, x -> CAST(x AS DOUBLE) / 1000000.0) FROM s1c2),
         |allv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |env AS (
         |  SELECT id, 0 AS subspace, v[1:32] AS sv FROM allv
         |  UNION ALL SELECT id, 1, v[33:64] FROM allv),
         |enc AS (SELECT id, subspace, cell AS code FROM (
         |  SELECT e.id, e.subspace, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY e.id, e.subspace ORDER BY
         |      list_dot_product(e.sv, c.cv) / (sqrt(list_dot_product(e.sv, e.sv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
         |      c.cell ASC) AS rk
         |  FROM env e JOIN cb c USING (subspace)) t WHERE rk = 1),
         |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
         |lut AS (
         |  SELECT q.query_id, c.subspace, c.cell,
         |    list_dot_product(CASE WHEN c.subspace = 0 THEN qv[1:32] ELSE qv[33:64] END, c.cv) AS dot,
         |    list_dot_product(c.cv, c.cv) AS c2
         |  FROM q CROSS JOIN cb c),
         |qn AS (SELECT query_id, sqrt(list_dot_product(qv, qv)) AS qnorm FROM q)""".stripMargin
    // WordPiece greedy-walk CTEs (q54/q58): require a prior CTE
    // `words(word)`; yield `pieces(word, token)` — the no-backtracking
    // longest-match walk with whole-word [UNK] (see q54 for the contract)
    val wordpieceCtes = {
      val vocabValues = WpVocab.map(v => s"('$v')").mkString(", ")
      s"""vocab(tok) AS (VALUES $vocabValues),
         |v AS (
         |  SELECT tok,
         |    CASE WHEN starts_with(tok, '##') THEN substr(tok, 3) ELSE tok END AS body,
         |    starts_with(tok, '##') AS cont,
         |    length(CASE WHEN starts_with(tok, '##') THEN substr(tok, 3) ELSE tok END) AS blen
         |  FROM vocab),
         |pos AS (
         |  SELECT word, unnest(generate_series(1, length(word))) AS sp FROM words),
         |best AS (
         |  SELECT p.word, p.sp, MAX(v.blen) AS blen
         |  FROM pos p JOIN v
         |    ON v.cont = (p.sp > 1)
         |   AND substr(p.word, CAST(p.sp AS INT), CAST(v.blen AS INT)) = v.body
         |  GROUP BY 1, 2),
         |walk AS (
         |  SELECT word, 1 AS sp, length(word) AS wlen FROM words
         |  UNION ALL
         |  SELECT w.word, w.sp + CAST(b.blen AS INT) AS sp, w.wlen
         |  FROM walk w JOIN best b ON b.word = w.word AND b.sp = w.sp
         |  WHERE w.sp <= w.wlen),
         |bad AS (
         |  SELECT DISTINCT w.word
         |  FROM walk w LEFT JOIN best b ON b.word = w.word AND b.sp = w.sp
         |  WHERE w.sp <= w.wlen AND b.word IS NULL),
         |pieces AS (
         |  SELECT w.word,
         |    CASE WHEN w.sp > 1 THEN '##' || substr(w.word, CAST(w.sp AS INT), CAST(b.blen AS INT))
         |         ELSE substr(w.word, CAST(w.sp AS INT), CAST(b.blen AS INT)) END AS token
         |  FROM walk w JOIN best b ON b.word = w.word AND b.sp = w.sp
         |  WHERE w.word NOT IN (SELECT word FROM bad)
         |  UNION ALL
         |  SELECT word, '[UNK]' AS token FROM bad)""".stripMargin
    }
    // DSIR twin-model CTE block (q76/q77): target LM (source 'src0') +
    // background LM (all documents), per-doc fixed-point NLLs → `wts`
    // (id, n_bigrams, nll_target_fp, nll_background_fp, logw_fp)
    val dsirCoreCtes = {
      // ONE source of truth for the bigram-key extraction (w1 key +
      // bigram key as 15-hex-digit md5 BIGINTs) — instantiated for both
      // model fits and the scoring pass so the key scheme cannot diverge
      def bgSelect(baseName: String, carryDoc: Boolean) =
        s"""SELECT ${if (carryDoc) "doc_id, " else ""}
           |    ('0x' || substring(md5(tt[g]), 1, 15))::BIGINT AS w1k,
           |    ('0x' || substring(md5(array_to_string(tt[g:g+1], ' ')), 1, 15))::BIGINT AS bgk
           |  FROM $baseName, unnest(generate_series(1, len(tt)-1)) AS u(g)""".stripMargin
      def lmCtes(pfx: String, baseName: String) =
        s"""${pfx}bg AS (${bgSelect(baseName, carryDoc = false)}),
           |${pfx}vsz AS (SELECT count(DISTINCT tok) AS v FROM
           |  (SELECT unnest(tt) AS tok FROM $baseName)),
           |${pfx}model AS (SELECT bgk, count(*) AS c, min(w1k) AS w1k FROM ${pfx}bg GROUP BY 1),
           |${pfx}ctx AS (SELECT w1k, CAST(sum(c) AS BIGINT) AS cc FROM ${pfx}model GROUP BY 1)""".stripMargin
      s"""dbase AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tt FROM documents),
         |tbase AS (SELECT doc_id, tt FROM dbase
         |  JOIN (SELECT doc_id FROM documents WHERE source = 'src0') USING (doc_id)),
         |${lmCtes("t", "tbase")},
         |${lmCtes("k", "dbase")},
         |dbg AS (${bgSelect("dbase", carryDoc = true)}),
         |dterms AS (SELECT g.doc_id,
         |    CAST(floor(-1000000.0 * ln((COALESCE(tm.c, 0) + 1.0) / (COALESCE(tx.cc, 0) + tv.v))) AS BIGINT) AS t_t,
         |    CAST(floor(-1000000.0 * ln((COALESCE(km.c, 0) + 1.0) / (COALESCE(kx.cc, 0) + kv.v))) AS BIGINT) AS t_b
         |  FROM dbg g
         |  LEFT JOIN tmodel tm ON tm.bgk = g.bgk
         |  LEFT JOIN tctx tx ON tx.w1k = g.w1k
         |  LEFT JOIN kmodel km ON km.bgk = g.bgk
         |  LEFT JOIN kctx kx ON kx.w1k = g.w1k
         |  CROSS JOIN tvsz tv CROSS JOIN kvsz kv),
         |dper AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(t_t) AS BIGINT) AS nll_target_fp,
         |    CAST(sum(t_b) AS BIGINT) AS nll_background_fp FROM dterms GROUP BY 1),
         |wts AS (SELECT d.doc_id AS id,
         |  COALESCE(dper.n_bigrams, 0) AS n_bigrams,
         |  COALESCE(dper.nll_target_fp, 0) AS nll_target_fp,
         |  COALESCE(dper.nll_background_fp, 0) AS nll_background_fp,
         |  COALESCE(dper.nll_background_fp, 0) - COALESCE(dper.nll_target_fp, 0) AS logw_fp
         |FROM documents d LEFT JOIN dper ON dper.doc_id = d.doc_id)""".stripMargin
    }

    val prfSets =
      """pre0 AS (SELECT DISTINCT l_orderkey AS entity1, l_partkey AS entity2 FROM lineitem WHERE l_quantity > 45),
        |pre AS (SELECT * FROM pre0 WHERE entity1 <> entity2),
        |ref AS (SELECT DISTINCT l_orderkey AS entity1, l_partkey AS entity2 FROM lineitem WHERE l_discount > 0.08),
        |ign AS (SELECT DISTINCT l_orderkey AS entity1, l_partkey AS entity2 FROM lineitem WHERE l_tax > 0.07),
        |prek AS (SELECT * FROM pre ANTI JOIN ign USING (entity1, entity2)),
        |refk AS (SELECT * FROM ref ANTI JOIN ign USING (entity1, entity2))""".stripMargin

    Map(
      "q01_normalize" ->
        """SELECT p_partkey, trim(regexp_replace(lower(replace(p_name, '_', ' ')), '\s+', ' ', 'g')) AS norm_name FROM part""",

      "q12_clamp" ->
        """SELECT DISTINCT l_orderkey, l_linenumber, CASE WHEN l_discount <= 0.01 THEN 0.0 ELSE l_discount END AS score FROM lineitem""",

      "q11_identity_removal" ->
        """SELECT DISTINCT l_suppkey AS entity1, (l_partkey % 10) + 1 AS entity2 FROM lineitem WHERE l_suppkey <> (l_partkey % 10) + 1""",

      "q13_nes_levenshtein" ->
        """SELECT a.p_partkey, round(max(1.0 - levenshtein(a.p_name, b.p_name) / greatest(length(a.p_name), length(b.p_name))), 6) AS best_nes
          |FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey <> b.p_partkey
          |GROUP BY a.p_partkey""".stripMargin,

      "q02_postings" ->
        s"WITH $postingCte SELECT class_id, token FROM posting",

      "q03_docfreq" ->
        s"WITH $postingCte SELECT token, count(*) AS df FROM posting GROUP BY token",

      "q04_idf_candidates" ->
        s"""WITH $postingCte,
           |q AS (SELECT class_id AS query_id, token FROM posting WHERE class_id < 20),
           |df AS (SELECT token, count(*) AS df FROM posting GROUP BY token),
           |d AS (SELECT count(*) AS d FROM documents),
           |w AS (SELECT p.token, p.class_id, CAST(floor(1000000 * d.d / df.df) AS BIGINT) AS w
           |      FROM posting p JOIN df USING (token) CROSS JOIN d),
           |summed AS (SELECT q.query_id, w.class_id, CAST(SUM(w.w) AS BIGINT) AS idf_w FROM q JOIN w USING (token) GROUP BY 1, 2),
           |ranked AS (SELECT query_id, class_id, idf_w,
           |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY idf_w DESC, class_id ASC) AS rnk FROM summed)
           |SELECT query_id, class_id, idf_w, rnk FROM ranked WHERE rnk <= 10""".stripMargin,

      "q05_topk_window" ->
        """SELECT * FROM (
          |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
          |    ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rnk
          |  FROM lineitem) WHERE rnk <= 3""".stripMargin,

      "q07_nbest" ->
        """SELECT from_id, to_id, score FROM (
          |  SELECT from_id, to_id, score,
          |    ROW_NUMBER() OVER (PARTITION BY from_id ORDER BY score DESC, to_id ASC) AS rnk
          |  FROM (SELECT DISTINCT l_orderkey AS from_id, l_partkey AS to_id, l_extendedprice AS score FROM lineitem))
          |WHERE rnk <= 1""".stripMargin,

      "q16_turn_order" ->
        """SELECT event_id, user_id, event_type,
          |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS turn_idx,
          |  LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type
          |FROM events""".stripMargin,

      "q06_stringmatch" ->
        """WITH a AS (SELECT * FROM part WHERE p_partkey <= 1000),
          |b AS (SELECT * FROM part WHERE p_partkey > 1000),
          |cands AS (SELECT a.p_partkey AS from_id, b.p_partkey AS to_id FROM a JOIN b USING (p_brand)),
          |matched AS (SELECT DISTINCT c.from_id, c.to_id FROM cands c
          |  JOIN a ON a.p_partkey = c.from_id JOIN b ON b.p_partkey = c.to_id
          |  WHERE a.p_type = b.p_type),
          |mfrom AS (SELECT DISTINCT from_id FROM matched)
          |SELECT from_id, to_id, 'matched' AS branch FROM matched
          |UNION ALL
          |SELECT from_id, to_id, 'remaining' AS branch FROM cands ANTI JOIN mfrom USING (from_id)""".stripMargin,

      "q08_union_dedup" ->
        """WITH m AS (
          |  SELECT o_custkey AS entity1, o_orderkey AS entity2, o_totalprice AS value FROM orders WHERE o_orderstatus = 'O'
          |  UNION ALL
          |  SELECT o_custkey, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000.0)
          |SELECT entity1, entity2, max(value) AS value FROM m GROUP BY entity1, entity2""".stripMargin,

      "q09_eval_prf" ->
        s"""WITH $prfSets,
           |c AS (SELECT
           |  (SELECT count(*) FROM prek) AS n_mappings,
           |  (SELECT count(*) FROM pre SEMI JOIN ign USING (entity1, entity2)) AS n_ignored,
           |  (SELECT count(*) FROM refk) AS n_ref,
           |  (SELECT count(*) FROM prek SEMI JOIN refk USING (entity1, entity2)) AS tp)
           |SELECT n_mappings, n_ignored, n_ref, tp,
           |  CASE WHEN n_mappings = 0 OR n_ref = 0 THEN -1.0 ELSE tp / n_mappings END AS p,
           |  CASE WHEN n_mappings = 0 OR n_ref = 0 THEN -1.0 ELSE tp / n_ref END AS r,
           |  CASE WHEN (CASE WHEN n_mappings = 0 OR n_ref = 0 THEN -1.0 ELSE tp / n_mappings END) < 0.0 THEN -1.0
           |       WHEN (tp / n_mappings) + (tp / n_ref) = 0.0 THEN 0.0
           |       ELSE 2 * (tp / n_mappings) * (tp / n_ref) / ((tp / n_mappings) + (tp / n_ref)) END AS f1
           |FROM c""".stripMargin,

      "q10_threshold_sweep" ->
        """WITH pre0 AS (
          |  SELECT l_orderkey AS entity1, l_partkey AS entity2, max(l_discount) AS value
          |  FROM lineitem WHERE l_orderkey <> l_partkey GROUP BY 1, 2),
          |ign AS (SELECT DISTINCT l_orderkey AS entity1, l_partkey AS entity2 FROM lineitem WHERE l_tax > 0.07),
          |ref0 AS (SELECT DISTINCT l_orderkey AS entity1, l_partkey AS entity2 FROM lineitem WHERE l_discount > 0.08),
          |refk AS (SELECT * FROM ref0 ANTI JOIN ign USING (entity1, entity2)),
          |nref AS (SELECT count(*) AS n_ref FROM refk),
          |flagged AS (
          |  SELECT p.value,
          |    CASE WHEN i.entity1 IS NOT NULL THEN 1 ELSE 0 END AS is_ign,
          |    CASE WHEN r.entity1 IS NOT NULL THEN 1 ELSE 0 END AS in_ref
          |  FROM pre0 p
          |  LEFT JOIN (SELECT entity1, entity2 FROM ign) i USING (entity1, entity2)
          |  LEFT JOIN (SELECT entity1, entity2 FROM refk) r USING (entity1, entity2)),
          |th AS (SELECT CAST(unnest([0.0, 0.02, 0.05, 0.07, 0.09, 0.1]) AS DOUBLE) AS threshold),
          |agg AS (
          |  SELECT th.threshold,
          |    CAST(SUM(CASE WHEN is_ign = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mappings,
          |    CAST(SUM(is_ign) AS BIGINT) AS n_ignored,
          |    CAST(SUM(CASE WHEN is_ign = 0 AND in_ref = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp
          |  FROM flagged JOIN th ON flagged.value >= th.threshold GROUP BY th.threshold),
          |raw AS (
          |  SELECT threshold, n_mappings, n_ignored,
          |    CASE WHEN n_mappings = 0 THEN -1.0 ELSE tp / n_mappings END AS p,
          |    CASE WHEN (SELECT n_ref FROM nref) = 0 THEN -1.0 ELSE tp / (SELECT n_ref FROM nref) END AS r
          |  FROM agg)
          |SELECT threshold, n_mappings, n_ignored, round(p, 6) AS p, round(r, 6) AS r,
          |  round(CASE WHEN p <= 0.0 OR r <= 0.0 THEN 0.0 ELSE 2 * p * r / (p + r) END, 6) AS f1
          |FROM raw""".stripMargin,

      "q32_intra_synonyms" ->
        """SELECT DISTINCT a.p_name AS sent1, b.p_name AS sent2, 1 AS label, 'syn' AS kind
          |FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_name <> b.p_name""".stripMargin,

      "q14_siblings" ->
        """SELECT a.n_regionkey, a.n_name AS sent1, b.n_name AS sent2
          |FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name""".stripMargin,

      "q15_softneg_sample" ->
        s"""WITH idx AS (
           |  SELECT p_partkey, p_brand, p_name,
           |    ROW_NUMBER() OVER (ORDER BY p_partkey) - 1 AS idx,
           |    (SELECT count(*) FROM part) AS d
           |  FROM part),
           |drawn AS (
           |  SELECT a.p_name AS sent1, b.p_name AS sent2, a.p_brand AS brand_a, b.p_brand AS brand_b
           |  FROM idx a JOIN idx b
           |    ON b.idx = (a.idx + 1 + (${lcgSql("a.p_partkey")} % (a.d - 1))) % a.d)
           |SELECT sent1, sent2 FROM drawn WHERE brand_a <> brand_b""".stripMargin,

      "q45_corpus_merge" ->
        """WITH p AS (SELECT p_name, p_brand, p_type, p_size,
          |            CAST(floor(p_retailprice) AS BIGINT) % 7 AS p_bucket
          |          FROM part WHERE p_partkey <= 400),
          |basesyn AS (SELECT DISTINCT a.p_name AS sent1, b.p_name AS sent2, 1 AS label, 'syn' AS kind
          |            FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_name < b.p_name),
          |baseneg AS (SELECT DISTINCT a.p_name AS sent1, b.p_name AS sent2, 0 AS label, 'soft_neg' AS kind
          |            FROM p a JOIN p b ON a.p_size = b.p_size AND a.p_brand <> b.p_brand AND a.p_name < b.p_name),
          |addsyn AS (SELECT DISTINCT a.p_name AS sent1, b.p_name AS sent2, 1 AS label, 'syn' AS kind
          |           FROM p a JOIN p b ON a.p_type = b.p_type AND a.p_name < b.p_name),
          |addneg AS (SELECT DISTINCT a.p_name AS sent1, b.p_name AS sent2, 0 AS label, 'soft_neg' AS kind
          |           FROM p a JOIN p b ON a.p_bucket = b.p_bucket AND a.p_name < b.p_name),
          |synmerged AS (SELECT * FROM basesyn UNION SELECT * FROM addsyn),
          |synboth AS (SELECT sent1, sent2 FROM synmerged UNION SELECT sent2 AS sent1, sent1 AS sent2 FROM synmerged),
          |addneg2 AS (SELECT * FROM addneg WHERE sent1 <> sent2),
          |addkept AS (SELECT * FROM addneg2 ANTI JOIN synboth USING (sent1, sent2)),
          |negs AS (SELECT DISTINCT * FROM (SELECT * FROM baseneg UNION ALL SELECT * FROM addkept))
          |SELECT * FROM synmerged UNION ALL SELECT * FROM negs""".stripMargin,

      "q52_test_protocol" -> {
        // prfReport arithmetic per setting: identity-dropped distinct pre,
        // anti-join the setting's ignored union from both sides, count
        // tp/n/n_ref; f1 from the UNROUNDED p/r, all three rounded last
        def settingRows(tag: String, ignCte: String) =
          s"""pk_$tag AS (SELECT * FROM pd ANTI JOIN $ignCte USING (entity1, entity2)),
             |rk_$tag AS (SELECT * FROM rd ANTI JOIN $ignCte USING (entity1, entity2)),
             |tp_$tag AS (SELECT * FROM pk_$tag SEMI JOIN rk_$tag USING (entity1, entity2)),
             |pi_$tag AS (SELECT * FROM pd SEMI JOIN $ignCte USING (entity1, entity2)),
             |row_$tag AS (SELECT '$tag' AS setting,
             |  (SELECT count(*) FROM pk_$tag)::BIGINT AS n_mappings,
             |  (SELECT count(*) FROM pi_$tag)::BIGINT AS n_ignored,
             |  (SELECT count(*) FROM rk_$tag)::BIGINT AS n_ref,
             |  (SELECT count(*) FROM tp_$tag)::BIGINT AS tp)""".stripMargin
        s"""WITH ref AS (
           |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS entity1,
           |         'n' || CAST(c_nationkey AS VARCHAR) AS entity2, c_custkey AS k
           |  FROM customer WHERE c_custkey <= 350),
           |pre AS (
           |  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS entity1,
           |         'n' || CAST(c_nationkey + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS VARCHAR) AS entity2
           |  FROM customer WHERE c_custkey <= 300),
           |trainm AS (SELECT entity1, entity2 FROM ref WHERE k % 10 < 2),
           |valm AS (SELECT entity1, entity2 FROM ref WHERE k % 10 = 2),
           |refign AS (SELECT entity1, entity2 FROM ref WHERE k % 50 = 0),
           |ign_ss AS (SELECT DISTINCT * FROM (SELECT * FROM refign UNION ALL
           |           SELECT * FROM valm UNION ALL SELECT * FROM trainm)),
           |ign_us AS (SELECT DISTINCT * FROM (SELECT * FROM refign UNION ALL SELECT * FROM valm)),
           |pd AS (SELECT DISTINCT entity1, entity2 FROM pre WHERE entity1 <> entity2),
           |rd AS (SELECT DISTINCT entity1, entity2 FROM ref),
           |${settingRows("ss", "ign_ss")},
           |${settingRows("us", "ign_us")},
           |calc AS (
           |  SELECT *, CASE WHEN n_mappings = 0 OR n_ref = 0 THEN -1.0
           |                 ELSE tp / CAST(n_mappings AS DOUBLE) END AS praw,
           |            CASE WHEN n_mappings = 0 OR n_ref = 0 THEN -1.0
           |                 ELSE tp / CAST(n_ref AS DOUBLE) END AS rraw
           |  FROM (SELECT * FROM row_ss UNION ALL SELECT * FROM row_us))
           |SELECT setting, n_mappings, n_ignored, n_ref, tp,
           |  round(praw, 6) AS p, round(rraw, 6) AS r,
           |  round(CASE WHEN praw < 0 THEN -1.0 WHEN praw + rraw = 0 THEN 0.0
           |             ELSE 2 * praw * rraw / (praw + rraw) END, 6) AS f1
           |FROM calc""".stripMargin
      },

      "q53_softneg_violations" -> {
        // the operator's md5+LCG draws replicated bit-exactly (same twin as
        // q46), complement side: identical-label draws plus draws hitting
        // the intra-synonym set either direction, counted with multiplicity
        s"""WITH cls AS (
           |  SELECT p_brand AS class_iri, list_sort(list(DISTINCT p_type)) AS labels
           |  FROM part WHERE p_partkey <= 500 GROUP BY 1),
           |idx AS (SELECT class_iri, labels,
           |        ROW_NUMBER() OVER (ORDER BY class_iri) - 1 AS idx FROM cls),
           |dc AS (SELECT count(*) AS d FROM idx),
           |u AS (SELECT a.idx, a.sent1, dr.draw
           |      FROM (SELECT idx, unnest(labels) AS sent1 FROM idx) a,
           |           (SELECT unnest([0, 1]) AS draw) dr),
           |drawn AS (
           |  SELECT u.idx, u.sent1, u.draw,
           |    (u.idx + 1 + (${keyedSql(7, Seq("u.idx", "u.sent1", "u.draw"))} % ((SELECT d FROM dc) - 1)))
           |      % (SELECT d FROM dc) AS o_idx
           |  FROM u),
           |paired AS (
           |  SELECT dr.sent1,
           |    o.labels[CAST(${keyedSql(8, Seq("dr.idx", "dr.sent1", "dr.draw"))} % len(o.labels) AS INT) + 1] AS sent2
           |  FROM drawn dr JOIN idx o ON o.idx = dr.o_idx),
           |lab AS (SELECT class_iri, unnest(labels) AS l FROM idx),
           |synboth AS (SELECT DISTINCT a.l AS sent1, b.l AS sent2
           |            FROM lab a JOIN lab b ON a.class_iri = b.class_iri AND a.l <> b.l),
           |ne AS (SELECT * FROM paired WHERE sent1 <> sent2),
           |vio2 AS (SELECT sent1, sent2 FROM ne SEMI JOIN synboth USING (sent1, sent2)),
           |vio AS (SELECT sent1, sent2 FROM paired WHERE sent1 = sent2
           |        UNION ALL SELECT * FROM vio2)
           |SELECT sent1, sent2, 'soft_neg_violation' AS kind,
           |       count(*)::BIGINT AS n
           |FROM vio GROUP BY 1, 2, 3""".stripMargin
      },

      "q46_cross_softneg" -> {
        def sideSql(labCol: String, oppCol: String, tag: String) =
          s"""  SELECT s.sent1,
             |    w.$oppCol[CAST(${keyedSql(8, Seq("s.midx", "s.sent1", "s.draw", s"'$tag'"))} % len(w.$oppCol) AS INT) + 1] AS sent2
             |  FROM (
             |    SELECT u.midx, u.sent1, u.draw,
             |      (u.midx + 1 + (${keyedSql(7, Seq("u.midx", "u.sent1", "u.draw", s"'$tag'"))} % ((SELECT m FROM mc) - 1))) % (SELECT m FROM mc) AS o_idx
             |    FROM (SELECT midx, unnest($labCol) AS sent1, draw
             |          FROM wl, (SELECT unnest([0, 1]) AS draw) d) u(midx, sent1, draw)
             |  ) s JOIN wl w ON w.midx = s.o_idx""".stripMargin
        s"""WITH p AS (SELECT p_partkey, p_name, p_brand, p_size FROM part WHERE p_partkey <= 300),
           |src AS (SELECT p_brand AS class_iri, list_sort(list(DISTINCT p_name)) AS labels FROM p GROUP BY 1),
           |tgt AS (SELECT p_size AS class_iri, list_sort(list(DISTINCT p_name)) AS labels FROM p GROUP BY 1),
           |maps AS (SELECT DISTINCT p_brand AS entity1, p_size AS entity2 FROM p WHERE p_partkey <= 60),
           |mi AS (SELECT entity1, entity2, ROW_NUMBER() OVER (ORDER BY entity1, entity2) - 1 AS midx FROM maps),
           |wl AS (SELECT mi.midx, mi.entity1, mi.entity2, s.labels AS src_labels, t.labels AS tgt_labels
           |       FROM mi JOIN src s ON s.class_iri = mi.entity1 JOIN tgt t ON t.class_iri = mi.entity2),
           |mc AS (SELECT count(*) AS m FROM mi),
           |drawn AS (
           |${sideSql("src_labels", "tgt_labels", "s2t")}
           |  UNION ALL
           |${sideSql("tgt_labels", "src_labels", "t2s")}),
           |drawn2 AS (SELECT DISTINCT sent1, sent2 FROM drawn WHERE sent1 <> sent2),
           |fwd AS (SELECT DISTINCT sl.l1 AS sent1, tl.l2 AS sent2
           |        FROM mi
           |        JOIN (SELECT class_iri AS entity1, unnest(labels) AS l1 FROM src) sl USING (entity1)
           |        JOIN (SELECT class_iri AS entity2, unnest(labels) AS l2 FROM tgt) tl USING (entity2)),
           |synboth AS (SELECT sent1, sent2 FROM fwd UNION SELECT sent2, sent1 FROM fwd),
           |kept AS (SELECT * FROM drawn2 ANTI JOIN synboth USING (sent1, sent2)),
           |bothdir AS (SELECT sent1, sent2 FROM kept UNION SELECT sent2 AS sent1, sent1 AS sent2 FROM kept)
           |SELECT sent1, sent2, 0 AS label, 'co_soft_neg' AS kind FROM bothdir""".stripMargin
      },

      "q47_assemble_splits" -> {
        def sampleSql(name: String, seed: Long, nCte: String) =
          s"""${name}s AS (SELECT sent1, sent2, label, kind FROM (
             |  SELECT *, ROW_NUMBER() OVER (ORDER BY ${keyedSql(seed, Seq("sent1", "sent2"))}, sent1, sent2) AS rn
             |  FROM $name) WHERE rn <= (SELECT c FROM $nCte))""".stripMargin
        def splitSql(inCte: String, seed: Long, trainName: String, valName: String) =
          s"""SELECT sent1, sent2, label, kind,
             |  CASE WHEN ${keyedSql(seed, Seq("sent1", "sent2"))} / 2147483648.0 < 0.8
             |       THEN '$trainName' ELSE '$valName' END AS split
             |FROM $inCte""".stripMargin
        s"""WITH n AS (SELECT n_name, n_nationkey, n_regionkey FROM nation),
           |syn AS (SELECT a.n_name AS sent1, b.n_name AS sent2, 1 AS label, 'syn' AS kind
           |        FROM n a JOIN n b ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name),
           |ids AS (SELECT n_name AS sent1, n_name AS sent2, 1 AS label, 'id_syn' AS kind FROM n),
           |soft AS (SELECT a.n_name AS sent1, b.n_name AS sent2, 0 AS label, 'soft_neg' AS kind
           |         FROM n a JOIN n b ON a.n_regionkey <> b.n_regionkey AND a.n_name < b.n_name
           |           AND (a.n_nationkey + b.n_nationkey) % 2 = 1),
           |hard AS (SELECT a.n_name AS sent1, b.n_name AS sent2, 0 AS label, 'hard_neg' AS kind
           |         FROM n a JOIN n b ON a.n_regionkey <> b.n_regionkey AND a.n_name < b.n_name
           |           AND (a.n_nationkey + b.n_nationkey) % 2 = 0),
           |nsyn AS (SELECT count(*) AS c FROM syn),
           |nid AS (SELECT count(*) AS c FROM ids),
           |${sampleSql("soft", 9, "nsyn")},
           |${sampleSql("hard", 10, "nsyn")},
           |base AS (SELECT DISTINCT * FROM (SELECT * FROM syn UNION ALL SELECT * FROM softs UNION ALL SELECT * FROM hards)),
           |softi AS (SELECT sent1, sent2, label, kind FROM (
           |  SELECT *, ROW_NUMBER() OVER (ORDER BY ${keyedSql(19, Seq("sent1", "sent2"))}, sent1, sent2) AS rn
           |  FROM soft) WHERE rn <= (SELECT c FROM nid)),
           |hardi AS (SELECT sent1, sent2, label, kind FROM (
           |  SELECT *, ROW_NUMBER() OVER (ORDER BY ${keyedSql(20, Seq("sent1", "sent2"))}, sent1, sent2) AS rn
           |  FROM hard) WHERE rn <= (SELECT c FROM nid)),
           |idbase AS (SELECT DISTINCT * FROM (SELECT * FROM ids UNION ALL SELECT * FROM softi UNION ALL SELECT * FROM hardi))
           |${splitSql("base", 11, "train", "val")}
           |UNION ALL
           |${splitSql("idbase", 21, "train_ids", "val_ids")}""".stripMargin
      },

      "q17_splits" ->
        s"""SELECT o_orderkey,
           |  CASE WHEN ${lcgSql("o_orderkey")} < 429496729 THEN 'train'
           |       WHEN ${lcgSql("o_orderkey")} < 644245094 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM orders""".stripMargin,

      "q18_downsample" ->
        s"""SELECT o_orderkey, rnk FROM (
           |  SELECT o_orderkey,
           |    ROW_NUMBER() OVER (ORDER BY ${lcgSql("o_orderkey")} ASC, o_orderkey ASC) AS rnk
           |  FROM orders) WHERE rnk <= 100""".stripMargin,

      "q19_dedup_exact" ->
        """SELECT doc_id AS id,
          |  md5(trim(regexp_replace(lower(replace(text, '_', ' ')), '\s+', ' ', 'g'))) AS text_hash,
          |  count(*) OVER (PARTITION BY md5(trim(regexp_replace(lower(replace(text, '_', ' ')), '\s+', ' ', 'g')))) AS group_size,
          |  CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(replace(text, '_', ' ')), '\s+', ' ', 'g')))) THEN 1 ELSE 0 END AS is_canonical
          |FROM documents""".stripMargin,

      "q20_shingles" ->
        s"WITH $shingleCte SELECT id, shingle FROM sh",

      "q21_minhash_sig" ->
        s"""WITH $shingleCte
           |SELECT id, s.seed, min(md5(shingle || '#' || s.seed)) AS mh
           |FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed) s
           |GROUP BY id, s.seed""".stripMargin,

      "q22_lsh_pairs" ->
        s"""WITH $shingleCte,
           |mh AS (SELECT id, s.seed, min(md5(shingle || '#' || s.seed)) AS mh
           |       FROM sh, (SELECT unnest(generate_series(0, 7)) AS seed) s GROUP BY id, s.seed),
           |bands0 AS (SELECT id, CAST(seed // 2 AS INT) AS band, string_agg(mh, ',' ORDER BY seed) AS band_sig
           |           FROM mh GROUP BY id, CAST(seed // 2 AS INT)),
           |bands AS (SELECT id, band,
           |  ('0x' || substring(md5(band_sig), 1, 15))::BIGINT AS band_sig FROM bands0)
           |SELECT DISTINCT a.id AS id1, b.id AS id2
           |FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id""".stripMargin,

      "q23_ngram_jaccard" ->
        s"""WITH $shingleCte,
           |shk AS (SELECT id,
           |  ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS shingle FROM sh),
           |sizes AS (SELECT id, count(*) AS n_shingles FROM shk GROUP BY id),
           |rare AS (SELECT shk.id, shk.shingle FROM shk
           |  JOIN (SELECT shingle, count(*) AS df FROM shk GROUP BY shingle) d
           |  ON shk.shingle = d.shingle AND d.df <= 500 AND d.df >= 2),
           |shared AS (SELECT a.id AS id1, b.id AS id2, count(*) AS shared
           |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2)
           |SELECT id1, id2, round(shared / (n1.n_shingles + n2.n_shingles - shared), 6) AS jaccard
           |FROM shared
           |JOIN sizes n1 ON n1.id = id1
           |JOIN sizes n2 ON n2.id = id2
           |WHERE shared / (n1.n_shingles + n2.n_shingles - shared) >= 0.2""".stripMargin,

      "q24_simhash" ->
        s"WITH $simhashSigCte SELECT id, b0, b1, b2, b3 FROM sig",

      "q60_dedup_canonical" -> {
        // q23's pair CTEs, then components as a transitive closure
        // (UNION-deduped recursive reachability — dup clusters are small,
        // so closure is cheap) with canonical = min of the component; the
        // Spark side's pointer-jumping CC converges to the same min
        s"""WITH RECURSIVE $shingleCte,
           |shk AS (SELECT id,
           |  ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS shingle FROM sh),
           |sizes AS (SELECT id, count(*) AS n_shingles FROM shk GROUP BY id),
           |rare AS (SELECT shk.id, shk.shingle FROM shk
           |  JOIN (SELECT shingle, count(*) AS df FROM shk GROUP BY shingle) d
           |  ON shk.shingle = d.shingle AND d.df <= 500 AND d.df >= 2),
           |shared AS (SELECT a.id AS id1, b.id AS id2, count(*) AS shared
           |  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2),
           |pairs AS (SELECT id1, id2 FROM shared
           |  JOIN sizes n1 ON n1.id = id1
           |  JOIN sizes n2 ON n2.id = id2
           |  WHERE shared / (n1.n_shingles + n2.n_shingles - shared) >= 0.2),
           |sym AS (SELECT id1 AS a, id2 AS b FROM pairs
           |        UNION SELECT id2, id1 FROM pairs),
           |nodes AS (SELECT DISTINCT a AS id FROM sym),
           |reach(id, r) AS (
           |  SELECT id, id AS r FROM nodes
           |  UNION
           |  SELECT s.b AS id, rr.r FROM reach rr JOIN sym s ON s.a = rr.id),
           |comp AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id)
           |SELECT d.doc_id, COALESCE(c.canonical, d.doc_id) AS canonical,
           |  CAST(CASE WHEN COALESCE(c.canonical, d.doc_id) = d.doc_id
           |       THEN 1 ELSE 0 END AS INT) AS is_canonical
           |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""".stripMargin
      },

      "q44_simhash_pairs" ->
        s"""WITH $simhashSigCte,
           |lng AS (
           |  SELECT id, b0, b1, b2, b3, 0 AS band, b0 AS bv FROM sig
           |  UNION ALL SELECT id, b0, b1, b2, b3, 1, b1 FROM sig
           |  UNION ALL SELECT id, b0, b1, b2, b3, 2, b2 FROM sig
           |  UNION ALL SELECT id, b0, b1, b2, b3, 3, b3 FROM sig)
           |SELECT id1, id2, hamming FROM (
           |  SELECT DISTINCT a.id AS id1, b.id AS id2,
           |    bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
           |    bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS hamming
           |  FROM lng a JOIN lng b ON a.band = b.band AND a.bv = b.bv AND a.id < b.id)
           |WHERE hamming <= 3""".stripMargin,

      "q27_embed_neardup" ->
        """SELECT a.vec_id AS id1, b.vec_id AS id2,
          |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
          |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
          |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
          |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
          |WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
          |  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
          |   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.3""".stripMargin,

      "q25_ann_bruteforce" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
          |c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
          |s AS (SELECT query_id, cand_id,
          |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
          |  FROM q CROSS JOIN c WHERE query_id <> cand_id),
          |r AS (SELECT query_id, cand_id, cosine,
          |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk FROM s)
          |SELECT query_id, cand_id, round(cosine, 6) AS cosine, rnk FROM r WHERE rnk <= 5""".stripMargin,

      "q26_ann_ivf" ->
        """WITH cen AS (SELECT CAST(vec_id / 100 AS BIGINT) AS cell, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id % 100 = 0),
          |v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
          |assigned AS (SELECT id, v, cell FROM (
          |  SELECT v.id, v.v, cen.cell,
          |    ROW_NUMBER() OVER (PARTITION BY v.id ORDER BY
          |      list_dot_product(v.v, cen.cv) / (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(cen.cv, cen.cv))) DESC,
          |      cen.cell ASC) AS rk
          |  FROM v CROSS JOIN cen) WHERE rk = 1),
          |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
          |probes AS (SELECT query_id, qv, cell FROM (
          |  SELECT q.query_id, q.qv, cen.cell,
          |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
          |      list_dot_product(q.qv, cen.cv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cen.cv, cen.cv))) DESC,
          |      cen.cell ASC) AS rk
          |  FROM q CROSS JOIN cen) WHERE rk <= 2),
          |s AS (SELECT p.query_id, a.id AS cand_id,
          |  list_dot_product(p.qv, a.v) / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cosine
          |  FROM probes p JOIN assigned a USING (cell) WHERE p.query_id <> a.id),
          |r AS (SELECT query_id, cand_id, cosine,
          |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk FROM s)
          |SELECT query_id, cand_id, round(cosine, 6) AS cosine, rnk FROM r WHERE rnk <= 3""".stripMargin,

      "q28_lang_quality" -> {
        def h(ws: Seq[String]) =
          s"len(list_filter($toks, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")})))"
        val en = h(Seq("the", "and", "of", "to", "is", "with", "that"))
        val de = h(Seq("der", "die", "das", "und", "ist", "mit", "ein"))
        val fr = h(Seq("le", "la", "les", "et", "est", "avec", "une"))
        val es = h(Seq("el", "la", "los", "y", "es", "con", "una"))
        val stop = h(graft.functions.text.stopWords.toSeq.sorted)
        s"""SELECT doc_id, $en AS en_hits, $de AS de_hits, $fr AS fr_hits, $es AS es_hits,
           |  CASE WHEN greatest($en, $de, $fr, $es) = 0 THEN 'und'
           |       WHEN $de >= $en AND $de >= $es AND $de >= $fr THEN 'de'
           |       WHEN $en >= $es AND $en >= $fr THEN 'en'
           |       WHEN $es >= $fr THEN 'es' ELSE 'fr' END AS pred_lang,
           |  len($toks) AS n_words,
           |  $stop AS n_stop,
           |  round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text), 6) AS alpha_ratio
           |FROM documents""".stripMargin
      },

      "q29_token_count" ->
        s"""SELECT doc_id,
           |  CAST(list_sum(list_transform($toks, w ->
           |    CASE WHEN length(w) <= 4 THEN 1 ELSE 1 + CAST(ceil((length(w) - 4) / 4.0) AS BIGINT) END)) AS BIGINT) AS n_tokens
           |FROM documents""".stripMargin,

      "q30_fingerprint" ->
        """SELECT doc_id, md5(trim(regexp_replace(lower(replace(text, '_', ' ')), '\s+', ' ', 'g'))) AS fp FROM documents""",

      "q31_scorer_pairs" -> {
        // lexical scorer replicated in SQL: jaccard over distinct word
        // tokens + normalized edit similarity, 0.5/0.5 blend
        val ta = "list_distinct(list_filter(string_split_regex(lower(a.p_name), '[^a-z0-9]+'), x -> x <> ''))"
        val tb = "list_distinct(list_filter(string_split_regex(lower(b.p_name), '[^a-z0-9]+'), x -> x <> ''))"
        s"""SELECT a.p_partkey AS from_id, b.p_partkey AS to_id, a.p_name AS l1, b.p_name AS l2,
           |  round(CASE WHEN a.p_name = b.p_name THEN 1.0 ELSE
           |    0.5 * (len(list_intersect($ta, $tb)) /
           |           (len($ta) + len($tb) - len(list_intersect($ta, $tb))))
           |    + 0.5 * (1.0 - levenshtein(a.p_name, b.p_name) / greatest(length(a.p_name), length(b.p_name))) END, 6) AS pair_score
           |FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey""".stripMargin
      },

      "q33_media_meta" ->
        """SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS payload_md5,
          |  CAST(strlen(text) AS BIGINT) % 251 AS shard
          |FROM documents""".stripMargin,

      "q34_sessionize" ->
        """SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n,
          |  round(min(value), 6) AS min_v, round(max(value), 6) AS max_v
          |FROM events GROUP BY 1, 2""".stripMargin,

      "q35_connected_components" ->
        """WITH e AS (SELECT n.n_name AS a, r.r_name AS b FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
          |grp AS (SELECT b, least(min(a), b) AS canonical FROM e GROUP BY b)
          |SELECT a AS id, canonical FROM e JOIN grp USING (b)
          |UNION ALL
          |SELECT b AS id, canonical FROM grp""".stripMargin,

      "q36_repair_onetoone" ->
        """WITH m AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS entity1, CAST(l_partkey AS VARCHAR) AS entity2, l_extendedprice AS value FROM lineitem),
          |s1 AS (SELECT * FROM (SELECT m.*, ROW_NUMBER() OVER (PARTITION BY entity1 ORDER BY value DESC, entity2 ASC) AS r1 FROM m) WHERE r1 = 1),
          |s2 AS (SELECT * FROM (SELECT s1.entity1, s1.entity2, s1.value, ROW_NUMBER() OVER (PARTITION BY entity2 ORDER BY value DESC, entity1 ASC) AS r2 FROM s1) WHERE r2 = 1)
          |SELECT entity1, entity2, value FROM s2""".stripMargin,

      "q37_agg_baseline" ->
        """SELECT l_returnflag, l_linestatus,
          |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
          |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_price,
          |  count(*) AS n
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

      "q41_class_embedding" ->
        """SELECT label, g.g - 1 AS dim, round(avg(embedding[g.g]::DOUBLE), 6) AS mean_v
          |FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(g)
          |GROUP BY label, g.g - 1""".stripMargin,

      "q42_depth" ->
        """WITH RECURSIVE e AS (
          |  SELECT DISTINCT o_orderkey AS child, CAST(o_orderkey // 10 AS BIGINT) AS parent
          |  FROM orders WHERE o_orderkey >= 10),
          |nodes AS (SELECT child AS id FROM e UNION SELECT parent FROM e),
          |roots AS (SELECT id FROM nodes WHERE id NOT IN (SELECT child FROM e)),
          |d AS (
          |  SELECT id, CAST(0 AS BIGINT) AS depth FROM roots
          |  UNION ALL
          |  SELECT e.child, d.depth + 1 FROM d JOIN e ON e.parent = d.id)
          |SELECT id, max(depth) AS depth FROM d GROUP BY id""".stripMargin,

      "q43_iri_abbrev" ->
        """SELECT iri,
          |  CASE WHEN starts_with(iri, 'http://example.org/part/')
          |       THEN 'px:' || substr(iri, length('http://example.org/part/') + 1)
          |       WHEN starts_with(iri, 'http://example.org/supplier/')
          |       THEN 'sx:' || substr(iri, length('http://example.org/supplier/') + 1)
          |       ELSE iri END AS abbrev,
          |  iri AS roundtrip
          |FROM (SELECT 'http://example.org/part/' || p_partkey AS iri FROM part)""".stripMargin,

      "q38_join_groupby" ->
        """SELECT c_mktsegment, sum(CAST(o_totalprice AS DECIMAL(12,2))) AS revenue, count(*) AS n_orders
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment""".stripMargin,

      "q48_subword_postings" -> {
        val sub = s"""flatten(list_transform($toks, w ->
           |    CASE WHEN length(w) <= 4 THEN [w]
           |         ELSE list_concat([substr(w, 1, 4)],
           |                list_transform(generate_series(5, length(w), 4), i -> '##' || substr(w, i, 4)))
           |    END))""".stripMargin
        s"""SELECT DISTINCT class_id, token FROM (
           |  SELECT doc_id AS class_id, unnest($sub) AS token
           |  FROM documents WHERE doc_id < 100)
           |WHERE length(token) > 0""".stripMargin
      },

      "q56_media_header" -> {
        // the independent formula side of the round trip: what the parsed
        // header MUST say, derived from doc_id without touching any bytes
        """SELECT doc_id,
          |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
          |       WHEN 2 THEN 'gif' ELSE 'wav' END AS format,
          |  CAST(CASE doc_id % 4 WHEN 0 THEN 16 + doc_id % 1000
          |       WHEN 1 THEN 32 + doc_id % 800
          |       WHEN 2 THEN 8 + doc_id % 300 ELSE 0 END AS INT) AS width,
          |  CAST(CASE doc_id % 4 WHEN 0 THEN 9 + doc_id % 500
          |       WHEN 1 THEN 24 + doc_id % 600
          |       WHEN 2 THEN 6 + doc_id % 200 ELSE 0 END AS INT) AS height,
          |  CAST(CASE doc_id % 4 WHEN 0 THEN 3 WHEN 1 THEN 3
          |       WHEN 2 THEN 0 ELSE 1 + doc_id % 2 END AS INT) AS channels,
          |  CAST(CASE WHEN doc_id % 4 = 3 THEN 8000 * (1 + doc_id % 3)
          |       ELSE 0 END AS INT) AS sample_rate
          |FROM documents WHERE doc_id < 256""".stripMargin
      },

      "q55_kmeans_fit" -> {
        // the fixed 2-iteration Lloyd loop unrolled (the q39 pattern):
        // fixed-point vectors, cosine assignment with cell-asc tie-break,
        // integer mean update (BIGINT sum, truncating //), empty cells
        // keep the previous centroid; exploded to scalar (cell, pos, cval,
        // n_assigned) rows — the driver canonicalizer requires scalar
        // columns (see COVERAGE.md packaging contract)
        s"""WITH $kmeansVecCte,
           |$kmeansCtes,
           |fin AS (
           |  SELECT p.cell, COALESCE(n.n, CAST(0 AS BIGINT)) AS n_assigned,
           |    COALESCE(n.c, p.c) AS centroid
           |  FROM c1 p LEFT JOIN c2n n USING (cell))
           |SELECT f.cell, f.n_assigned, CAST(s.p - 1 AS BIGINT) AS pos,
           |  f.centroid[s.p] AS cval
           |FROM fin f, unnest(generate_series(1, len(f.centroid))) AS s(p)""".stripMargin
      },

      "q57_ivf_fitted" -> {
        // kmeans CTEs (shared with q55) produce the fitted fixed-point
        // centroids c2; convert to DOUBLE and run the q26 IVF plan on them:
        // assign every candidate to its nearest fitted cell, probe the 2
        // nearest cells per query, brute-force top-3 inside them
        val cosd = (a: String, b: String) =>
          s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
        s"""WITH $kmeansVecCte,
           |$kmeansCtes,
           |cen AS (SELECT cell, list_transform(c, x -> CAST(x AS DOUBLE) / 1000000.0) AS cv FROM c2),
           |vd AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200),
           |assigned AS (SELECT id, v, cell FROM (
           |  SELECT vd.id, vd.v, cen.cell,
           |    ROW_NUMBER() OVER (PARTITION BY vd.id ORDER BY
           |      ${cosd("vd.v", "cen.cv")} DESC, cen.cell ASC) AS rk
           |  FROM vd CROSS JOIN cen) WHERE rk = 1),
           |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
           |probes AS (SELECT query_id, qv, cell FROM (
           |  SELECT q.query_id, q.qv, cen.cell,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           |      ${cosd("q.qv", "cen.cv")} DESC, cen.cell ASC) AS rk
           |  FROM q CROSS JOIN cen) WHERE rk <= 2),
           |s AS (SELECT p.query_id, a.id AS cand_id, ${cosd("p.qv", "a.v")} AS cosine
           |  FROM probes p JOIN assigned a USING (cell) WHERE p.query_id <> a.id),
           |r AS (SELECT query_id, cand_id, cosine,
           |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk FROM s)
           |SELECT query_id, cand_id, round(cosine, 6) AS cosine, rnk FROM r WHERE rnk <= 3""".stripMargin
      },

      "q54_wordpiece_postings" -> {
        // greedy longest-match WordPiece as a recursive CTE (the q51
        // pattern): `best` precomputes the longest vocab piece at every
        // (word, position) — continuation pieces only match past position
        // 1 — then the walk advances by the matched length with no
        // backtracking; any walked position with no piece marks the whole
        // word [UNK], exactly the BERT WordpieceTokenizer contract
        s"""WITH RECURSIVE words AS (
           |  SELECT DISTINCT word FROM (
           |    SELECT unnest($toks) AS word FROM documents WHERE doc_id < 100)
           |  WHERE length(word) > 0),
           |$wordpieceCtes,
           |docw AS (
           |  SELECT DISTINCT doc_id, word FROM (
           |    SELECT doc_id, unnest($toks) AS word FROM documents WHERE doc_id < 100)
           |  WHERE length(word) > 0)
           |SELECT DISTINCT d.doc_id AS class_id, p.token
           |FROM docw d JOIN pieces p USING (word)""".stripMargin
      },

      "q58_wordpiece_candidates" -> {
        // WordPiece postings on both document halves, then the fixed-point
        // IDF candidate ranking (q50's candidate CTEs with wordpiece
        // tokens): floor(1e6·D/df) summed as BIGINT, top-5 per query with
        // (idf_w desc, class_id asc) tie-break
        s"""WITH RECURSIVE words AS (
           |  SELECT DISTINCT word FROM (
           |    SELECT unnest($toks) AS word FROM documents)
           |  WHERE length(word) > 0),
           |$wordpieceCtes,
           |fw AS (
           |  SELECT DISTINCT doc_id, word FROM (
           |    SELECT doc_id, unnest($toks) AS word FROM documents WHERE doc_id < 250)
           |  WHERE length(word) > 0),
           |tw AS (
           |  SELECT DISTINCT doc_id, word FROM (
           |    SELECT doc_id, unnest($toks) AS word FROM documents WHERE doc_id >= 250)
           |  WHERE length(word) > 0),
           |fpost AS (SELECT DISTINCT f.doc_id AS query_id, p.token FROM fw f JOIN pieces p USING (word)),
           |tpost AS (SELECT DISTINCT t.doc_id AS class_id, p.token FROM tw t JOIN pieces p USING (word)),
           |df AS (SELECT token, count(*) AS df FROM tpost GROUP BY token),
           |d AS (SELECT count(*) AS d FROM documents WHERE doc_id >= 250),
           |w AS (SELECT p.token, p.class_id, CAST(floor(1000000 * d.d / df.df) AS BIGINT) AS w
           |      FROM tpost p JOIN df USING (token) CROSS JOIN d),
           |summed AS (SELECT q.query_id, w.class_id, CAST(SUM(w.w) AS BIGINT) AS idf_w
           |           FROM fpost q JOIN w USING (token) GROUP BY 1, 2)
           |SELECT query_id, class_id, idf_w, CAST(rnk AS INT) AS rnk FROM (
           |  SELECT query_id, class_id, idf_w,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY idf_w DESC, class_id ASC) AS rnk
           |  FROM summed) WHERE rnk <= 5""".stripMargin
      },

      "q49_embeds_align" -> {
        val labToks = "list_filter(string_split_regex(lower(label), '[^a-z0-9]+'), x -> x <> '')"
        s"""WITH froml AS (SELECT CAST(doc_id AS VARCHAR) AS id, text AS label FROM documents WHERE doc_id < 250),
           |tol AS (SELECT CAST(doc_id AS VARCHAR) AS id, text AS label FROM documents WHERE doc_id >= 250),
           |fpost AS (SELECT DISTINCT id AS query_id, token FROM
           |  (SELECT id, unnest($labToks) AS token FROM froml) WHERE length(token) > 0),
           |tpost AS (SELECT DISTINCT id AS class_id, token FROM
           |  (SELECT id, unnest($labToks) AS token FROM tol) WHERE length(token) > 0),
           |df AS (SELECT token, count(*) AS df FROM tpost GROUP BY token),
           |d AS (SELECT count(*) AS d FROM tol),
           |w AS (SELECT p.token, p.class_id, CAST(floor(1000000 * d.d / df.df) AS BIGINT) AS w
           |      FROM tpost p JOIN df USING (token) CROSS JOIN d),
           |summed AS (SELECT q.query_id, w.class_id, CAST(SUM(w.w) AS BIGINT) AS idf_w
           |           FROM fpost q JOIN w USING (token) GROUP BY 1, 2),
           |cand AS (SELECT query_id AS from_id, class_id AS to_id FROM (
           |  SELECT query_id, class_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY idf_w DESC, class_id ASC) AS rnk
           |  FROM summed) WHERE rnk <= 5),
           |vec AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding::DOUBLE[] AS v FROM embeddings),
           |scored AS (SELECT c.from_id, c.to_id,
           |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS score
           |  FROM cand c JOIN vec a ON a.id = c.from_id JOIN vec b ON b.id = c.to_id)
           |SELECT from_id, to_id, round(score, 6) AS score FROM (
           |  SELECT from_id, to_id, score,
           |    ROW_NUMBER() OVER (PARTITION BY from_id ORDER BY score DESC, to_id ASC) AS rnk
           |  FROM scored) WHERE rnk <= 1""".stripMargin
      },

      "q39_extend_loop" -> {
        // the greedy extension loop unrolled to its maxIter=3 bound: each
        // hop = parent×parent ∪ child×child of the frontier, seen-set
        // anti-join, lexical score (same kernel as q50) with the exact-
        // match short-circuit, keep >= kappa; an empty frontier stays
        // empty, so the unrolled form equals the early-exit loop
        val tks = (c: String) =>
          s"list_distinct(list_filter(string_split_regex(lower($c), '[^a-z0-9]+'), x -> x <> ''))"
        val scoreSql = {
          val (na, nb) = ("la.label", "lb.label")
          s"""CASE WHEN $na = $nb THEN 1.0 ELSE
             |    0.5 * (CASE WHEN len(${tks(na)}) = 0 AND len(${tks(nb)}) = 0 THEN 1.0
             |           ELSE CAST(len(list_intersect(${tks(na)}, ${tks(nb)})) AS DOUBLE)
             |                / (len(${tks(na)}) + len(${tks(nb)}) - len(list_intersect(${tks(na)}, ${tks(nb)}))) END)
             |    + 0.5 * (1.0 - levenshtein($na, $nb) / greatest(length($na), length($nb))) END""".stripMargin
        }
        def hop(i: Int, frontier: String, seen: String) =
          s"""cand$i AS (
             |  SELECT DISTINCT entity1, entity2 FROM (
             |    SELECT e1.parent AS entity1, e2.parent AS entity2
             |    FROM $frontier f JOIN e e1 ON e1.child = f.entity1 JOIN e e2 ON e2.child = f.entity2
             |    UNION ALL
             |    SELECT e1.child AS entity1, e2.child AS entity2
             |    FROM $frontier f JOIN e e1 ON e1.parent = f.entity1 JOIN e e2 ON e2.parent = f.entity2)),
             |cand${i}k AS (SELECT * FROM cand$i ANTI JOIN $seen USING (entity1, entity2)),
             |kept$i AS (SELECT * FROM (
             |  SELECT c.entity1, c.entity2,
             |    greatest(avg($scoreSql),
             |             max(CASE WHEN la.label = lb.label THEN 1.0 ELSE 0.0 END)) AS value
             |  FROM cand${i}k c JOIN lab la ON la.id = c.entity1 JOIN lab lb ON lb.id = c.entity2
             |  GROUP BY 1, 2) WHERE value >= 0.9),
             |seen$i AS (SELECT entity1, entity2 FROM $seen UNION SELECT entity1, entity2 FROM kept$i),
             |fr$i AS (SELECT entity1, entity2 FROM kept$i)""".stripMargin
        s"""WITH e AS (SELECT n.n_name AS child, r.r_name AS parent
           |           FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey),
           |lab AS (SELECT n_name AS id, lower(n_name) AS label FROM nation
           |        UNION ALL SELECT r_name AS id, lower(r_name) AS label FROM region),
           |seen0 AS (SELECT DISTINCT n_name AS entity1, n_name AS entity2 FROM nation),
           |fr0 AS (SELECT entity1, entity2 FROM seen0),
           |${hop(1, "fr0", "seen0")},
           |${hop(2, "fr1", "seen1")},
           |${hop(3, "fr2", "seen2")}
           |SELECT entity1, entity2, round(value, 6) AS value FROM (
           |  SELECT * FROM kept1 UNION ALL SELECT * FROM kept2 UNION ALL SELECT * FROM kept3)""".stripMargin
      },

      "q40g_golden_prf" -> {
        // whole-program golden gate: the flagship's best-F1 evaluation row
        // vs the fixture's by-construction reference alignments. The
        // pipeline is partition-invariant (DeterminismSpec) and the fixture
        // is a pure function of seed 42, so the row is a CONSTANT of the
        // code — the oracle pins it. Any regression anywhere in the chain
        // (detect, stabilize, candidates, scoring, n-best, extension,
        // repair) moves at least one of these six numbers.
        """SELECT CAST(0.0 AS DOUBLE) AS threshold,
          |  CAST(91 AS BIGINT) AS n_mappings, CAST(9 AS BIGINT) AS n_ignored,
          |  CAST(1.0 AS DOUBLE) AS p, CAST(1.0 AS DOUBLE) AS r,
          |  CAST(1.0 AS DOUBLE) AS f1""".stripMargin
      },

      "q59_bpe_merges" -> {
        // the 12 learned merges as pinned constants (the q40g argument:
        // partition-invariant algorithm × seed-42 fixture ⇒ the merge
        // table is a constant of the code; any change to tokenization,
        // histogram weighting or tie-breaking moves at least one row)
        """SELECT CAST(m AS INT) AS merge_ord, l AS "left", r AS "right",
          |  mg AS merged, CAST(n AS BIGINT) AS pair_count
          |FROM (VALUES
          |  (1, '##o', '##r', '##or', 193),
          |  (2, '##a', '##r', '##ar', 192),
          |  (3, '##e', '##l', '##el', 150),
          |  (4, '##o', '##l', '##ol', 126),
          |  (5, '##t', '##e', '##te', 118),
          |  (6, '##u', '##a', '##ua', 115),
          |  (7, '##p', '##ol', '##pol', 108),
          |  (8, 'k', '##a', 'ka', 107),
          |  (9, '##q', '##ua', '##qua', 97),
          |  (10, 's', '##ar', 'sar', 94),
          |  (11, '##l', '##e', '##le', 92),
          |  (12, '##e', '##n', '##en', 91)) AS t(m, l, r, mg, n)""".stripMargin
      },

      "q40t_triples_hash" -> {
        // constants of the code, same argument as q40g: partition-invariant
        // pipeline (DeterminismSpec) × seed-42 fixture ⇒ the triple multiset
        // digest is fixed; any change to the emitted triples moves hash_sum
        """SELECT CAST(476 AS BIGINT) AS n_triples,
          |  CAST(100 AS BIGINT) AS n_sameas, CAST(280 AS BIGINT) AS n_mentions,
          |  CAST(96 AS BIGINT) AS n_broader,
          |  CAST(485655843568 AS BIGINT) AS hash_sum""".stripMargin
      },

      "q61_subword_flagship" -> {
        // SAME constants as q40t by design: the catalog vocab passed in
        // must land the identical flagship triple set as the vocab the
        // default run induces (PipelineE2ESpec pins the digest invariant
        // across nMerges 30/100/400)
        """SELECT CAST(476 AS BIGINT) AS n_triples,
          |  CAST(100 AS BIGINT) AS n_sameas, CAST(280 AS BIGINT) AS n_mentions,
          |  CAST(96 AS BIGINT) AS n_broader,
          |  CAST(485655843568 AS BIGINT) AS hash_sum""".stripMargin
      },

      "q51_detect_greedy" -> {
        // the trie/join detect kernel's greedy longest-match walk as a
        // recursive CTE: per turn, advance pos by the longest match length
        // (or 1), emit all dictionary entries of the longest match at each
        // accepted position; then stabilize = min(surface) per (turn,
        // entity) + the per-conversation ordinal window
        """WITH RECURSIVE docs AS (
          |  SELECT doc_id, 'd' || CAST(doc_id // 4 AS VARCHAR) AS conv_id,
          |         CAST(doc_id % 4 AS INT) AS turn_idx, text
          |  FROM documents WHERE doc_id < 200 AND lang = 'en'),
          |toks AS (
          |  SELECT conv_id, turn_idx,
          |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS tk
          |  FROM docs),
          |dict(k, klen, onto, class_iri, surface) AS (VALUES
          |  ('fast table', 2, 'src', 'src:T1', 'fast table'),
          |  ('table', 1, 'src', 'src:T2', 'table'),
          |  ('scan', 1, 'src', 'src:T3', 'scan'),
          |  ('window table', 2, 'src', 'src:T4', 'window table'),
          |  ('agg', 1, 'src', 'src:T5', 'agg'),
          |  ('agg row', 2, 'src', 'src:T5', 'agg row'),
          |  ('scan', 1, 'src', 'src:T6', 'scan'),
          |  ('slow fast', 2, 'src', 'src:T7', 'slow fast')),
          |positions AS (
          |  SELECT conv_id, turn_idx, unnest(generate_series(1, len(tk))) AS sp, tk
          |  FROM toks),
          |hits AS (
          |  SELECT p.conv_id, p.turn_idx, p.sp, d.klen, d.onto, d.class_iri, d.surface
          |  FROM positions p JOIN dict d
          |    ON p.sp + d.klen - 1 <= len(p.tk)
          |   AND array_to_string(p.tk[p.sp : p.sp + d.klen - 1], ' ') = d.k),
          |best AS (
          |  SELECT conv_id, turn_idx, sp, MAX(klen) AS blen
          |  FROM hits GROUP BY 1, 2, 3),
          |walk AS (
          |  SELECT conv_id, turn_idx, 1 AS pos, len(tk) AS n FROM toks
          |  UNION ALL
          |  SELECT w.conv_id, w.turn_idx, w.pos + COALESCE(b.blen, 1) AS pos, w.n
          |  FROM walk w
          |  LEFT JOIN best b ON b.conv_id = w.conv_id AND b.turn_idx = w.turn_idx
          |                  AND b.sp = w.pos
          |  WHERE w.pos <= w.n),
          |sel AS (
          |  SELECT DISTINCT h.conv_id, h.turn_idx, h.onto, h.class_iri, h.surface
          |  FROM walk w
          |  JOIN best b ON b.conv_id = w.conv_id AND b.turn_idx = w.turn_idx AND b.sp = w.pos
          |  JOIN hits h ON h.conv_id = w.conv_id AND h.turn_idx = w.turn_idx
          |             AND h.sp = w.pos AND h.klen = b.blen),
          |stab AS (
          |  SELECT conv_id, turn_idx, onto, class_iri, MIN(surface) AS surface
          |  FROM sel GROUP BY 1, 2, 3, 4)
          |SELECT conv_id, turn_idx, onto, class_iri, surface,
          |  CAST(ROW_NUMBER() OVER (PARTITION BY conv_id
          |       ORDER BY turn_idx, onto, class_iri) AS INT) AS mention_ord
          |FROM stab""".stripMargin
      },

      "q50_nes_align" -> {
        // the codegen'd lexical kernel replicated in SQL over NORMALIZED
        // labels: exact ⇒ 1.0, else 0.5·tokenJaccard + 0.5·NES
        val norm = (c: String) =>
          s"trim(regexp_replace(lower(replace($c, '_', ' ')), '\\s+', ' ', 'g'))"
        val tks = (c: String) =>
          s"list_distinct(list_filter(string_split_regex(lower($c), '[^a-z0-9]+'), x -> x <> ''))"
        s"""WITH froml AS (SELECT CAST(doc_id AS VARCHAR) AS id, text AS label FROM documents WHERE doc_id < 250),
           |tol AS (SELECT CAST(doc_id AS VARCHAR) AS id, text AS label FROM documents WHERE doc_id >= 250),
           |fpost AS (SELECT DISTINCT id AS query_id, token FROM
           |  (SELECT id, unnest(list_filter(string_split_regex(lower(label), '[^a-z0-9]+'), x -> x <> '')) AS token FROM froml)
           |  WHERE length(token) > 0),
           |tpost AS (SELECT DISTINCT id AS class_id, token FROM
           |  (SELECT id, unnest(list_filter(string_split_regex(lower(label), '[^a-z0-9]+'), x -> x <> '')) AS token FROM tol)
           |  WHERE length(token) > 0),
           |df AS (SELECT token, count(*) AS df FROM tpost GROUP BY token),
           |d AS (SELECT count(*) AS d FROM tol),
           |w AS (SELECT p.token, p.class_id, CAST(floor(1000000 * d.d / df.df) AS BIGINT) AS w
           |      FROM tpost p JOIN df USING (token) CROSS JOIN d),
           |summed AS (SELECT q.query_id, w.class_id, CAST(SUM(w.w) AS BIGINT) AS idf_w
           |           FROM fpost q JOIN w USING (token) GROUP BY 1, 2),
           |cand AS (SELECT query_id AS from_id, class_id AS to_id FROM (
           |  SELECT query_id, class_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY idf_w DESC, class_id ASC) AS rnk
           |  FROM summed) WHERE rnk <= 5),
           |lab AS (SELECT c.from_id, c.to_id, ${norm("a.label")} AS na, ${norm("b.label")} AS nb
           |        FROM cand c JOIN froml a ON a.id = c.from_id JOIN tol b ON b.id = c.to_id),
           |pairsc AS (SELECT from_id, to_id,
           |  CASE WHEN na = nb THEN 1.0 ELSE
           |    0.5 * (CASE WHEN len(${tks("na")}) = 0 AND len(${tks("nb")}) = 0 THEN 1.0
           |           ELSE CAST(len(list_intersect(${tks("na")}, ${tks("nb")})) AS DOUBLE)
           |                / (len(${tks("na")}) + len(${tks("nb")}) - len(list_intersect(${tks("na")}, ${tks("nb")}))) END)
           |    + 0.5 * (1.0 - levenshtein(na, nb) / greatest(length(na), length(nb))) END AS s
           |  FROM lab),
           |pooled AS (SELECT from_id, to_id, max(s) AS score FROM pairsc GROUP BY 1, 2)
           |SELECT from_id, to_id, round(score, 6) AS score FROM (
           |  SELECT from_id, to_id, score,
           |    ROW_NUMBER() OVER (PARTITION BY from_id ORDER BY score DESC, to_id ASC) AS rnk
           |  FROM pooled) WHERE rnk <= 1""".stripMargin
      },

      "q65_pq_ann" ->
        s"""WITH $kmeansVecCte,
           |$pqCoreCtes,
           |sc AS (SELECT l.query_id, e.id AS cand_id, SUM(l.dot) AS sd, SUM(l.c2) AS sc2
           |       FROM enc e JOIN lut l ON l.subspace = e.subspace AND l.cell = e.code
           |       GROUP BY 1, 2 HAVING COUNT(*) = 2),
           |adc AS (SELECT s.query_id, s.cand_id,
           |  CASE WHEN qn.qnorm * sqrt(s.sc2) = 0 THEN 0.0
           |       ELSE s.sd / (qn.qnorm * sqrt(s.sc2)) END AS adc_cosine
           |  FROM sc s JOIN qn ON qn.query_id = s.query_id WHERE s.query_id <> s.cand_id),
           |r AS (SELECT query_id, cand_id, adc_cosine,
           |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_cosine DESC, cand_id ASC) AS rnk FROM adc)
           |SELECT query_id, cand_id, round(adc_cosine, 6) AS adc_cosine, rnk FROM r WHERE rnk <= 5""".stripMargin,

      "q66_ivfpq_ann" -> {
        // coarse quantizer = one more unrolled Lloyd chain (prefix g) over
        // the FULL fixed-point vectors; candidates join the PQ score chain
        // only through their coarse cell ∩ the query's probed cells
        val cos = (a: String, b: String) =>
          s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
        s"""WITH $kmeansVecCte,
           |${kmeansCtesFor("g", "vec", 4)},
           |gcen AS (SELECT cell, list_transform(c, x -> CAST(x AS DOUBLE) / 1000000.0) AS gcv FROM gc2),
           |$pqCoreCtes,
           |acell AS (SELECT id, cell FROM (
           |  SELECT a.id, g.cell,
           |    ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY ${cos("a.v", "g.gcv")} DESC, g.cell ASC) AS rk
           |  FROM allv a CROSS JOIN gcen g) t WHERE rk = 1),
           |probes AS (SELECT query_id, cell FROM (
           |  SELECT q.query_id, g.cell,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY ${cos("q.qv", "g.gcv")} DESC, g.cell ASC) AS rk
           |  FROM q CROSS JOIN gcen g) t WHERE rk <= 2),
           |sc AS (SELECT l.query_id, e.id AS cand_id, SUM(l.dot) AS sd, SUM(l.c2) AS sc2
           |       FROM enc e JOIN acell a USING (id)
           |       JOIN probes p ON p.cell = a.cell
           |       JOIN lut l ON l.query_id = p.query_id AND l.subspace = e.subspace AND l.cell = e.code
           |       GROUP BY 1, 2 HAVING COUNT(*) = 2),
           |adc AS (SELECT s.query_id, s.cand_id,
           |  CASE WHEN qn.qnorm * sqrt(s.sc2) = 0 THEN 0.0
           |       ELSE s.sd / (qn.qnorm * sqrt(s.sc2)) END AS adc_cosine
           |  FROM sc s JOIN qn ON qn.query_id = s.query_id WHERE s.query_id <> s.cand_id),
           |r AS (SELECT query_id, cand_id, adc_cosine,
           |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_cosine DESC, cand_id ASC) AS rnk FROM adc)
           |SELECT query_id, cand_id, round(adc_cosine, 6) AS adc_cosine, rnk FROM r WHERE rnk <= 3""".stripMargin
      },

      "q62_repetition" ->
        s"""WITH base AS (SELECT doc_id, $toks AS tt FROM documents),
           |bg AS (SELECT doc_id,
           |  ('0x' || substring(md5(array_to_string(tt[g:g+1], ' ')), 1, 15))::BIGINT AS bgk
           |  FROM base, unnest(generate_series(1, len(tt)-1)) AS u(g)),
           |cnt AS (SELECT doc_id, bgk, count(*) AS c FROM bg GROUP BY 1, 2),
           |per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram_n,
           |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occ FROM cnt GROUP BY 1)
           |SELECT b.doc_id AS id, len(tt) AS n_words,
           |  len(list_distinct(tt)) AS n_distinct_words,
           |  round(CASE WHEN len(tt) = 0 THEN 0.0
           |        ELSE 1.0 - CAST(len(list_distinct(tt)) AS DOUBLE) / len(tt) END, 6) AS dup_word_frac,
           |  COALESCE(p.n_bigrams, 0) AS n_bigrams,
           |  COALESCE(p.top_bigram_n, 0) AS top_bigram_n,
           |  round(COALESCE(CAST(p.top_bigram_n AS DOUBLE) / p.n_bigrams, 0.0), 6) AS top_bigram_frac,
           |  round(COALESCE(CAST(p.dup_occ AS DOUBLE) / p.n_bigrams, 0.0), 6) AS dup_bigram_frac
           |FROM base b LEFT JOIN per p ON p.doc_id = b.doc_id""".stripMargin,

      "q63_quota_sample" ->
        // the Spark side's bucketed rank ≡ a plain per-group rank ordered by
        // (md5(id), id): the bucket is the first two md5 hex digits, so
        // (bucket, md5, id) ordering IS (md5, id) ordering
        """WITH r AS (SELECT doc_id AS id, source AS grp,
          |  ROW_NUMBER() OVER (PARTITION BY source
          |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rnk
          |  FROM documents)
          |SELECT id, grp, rnk FROM r
          |WHERE rnk <= CASE WHEN length(grp) = 4 THEN 8 ELSE 4 END""".stripMargin,

      "q64_decontaminate" ->
        s"""WITH sh3 AS (
           |  SELECT DISTINCT doc_id AS id, array_to_string(tt[g:g+2], ' ') AS shingle
           |  FROM (SELECT doc_id, $toks AS tt FROM documents) d,
           |       unnest(generate_series(1, len(tt)-2)) AS u(g)),
           |shk AS (SELECT id, ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS shk FROM sh3),
           |bench AS (SELECT DISTINCT shk FROM shk WHERE id % 20 = 0),
           |ov AS (SELECT t.id, count(*) AS n_overlap FROM shk t JOIN bench b USING (shk)
           |       WHERE t.id % 20 <> 0 GROUP BY 1)
           |SELECT d.doc_id AS id, COALESCE(o.n_overlap, 0) AS n_overlap,
           |  CAST(CASE WHEN COALESCE(o.n_overlap, 0) >= 2 THEN 1 ELSE 0 END AS INT) AS contaminated
           |FROM documents d LEFT JOIN ov o ON o.id = d.doc_id
           |WHERE d.doc_id % 20 <> 0""".stripMargin,

      // q67: DuckDB independently re-parses the SAME /tmp dump the query
      // wrote (Verify runs the Spark side first), replicating the
      // quarantine predicate over RAW lines with json functions — NOT
      // read_json(ignore_errors), which nulls failing fields instead of
      // dropping lines (verified empirically). Raw lines come from a
      // quote-less tab-delimited read_csv (JSONL never carries tabs);
      // json_extract_string returns SQL NULL for both a missing key and a
      // JSON null, exactly like Spark's get_json_object, so the ts-drift
      // clause (ts key present but unparseable => corrupt) twins 1:1.
      "q67_jsonl_ingest" ->
        """WITH raw AS (
          |  SELECT l FROM read_csv('/tmp/graft-q67/raw.jsonl',
          |    delim=E'\t', quote='', escape='', header=false, columns={'l':'VARCHAR'})),
          |parsed AS (
          |  SELECT
          |    CASE WHEN json_valid(l) THEN json_extract_string(l, '$.conv_id') END AS conv_id,
          |    TRY_CAST(CASE WHEN json_valid(l) THEN json_extract_string(l, '$.turn_idx') END AS INTEGER) AS turn_idx,
          |    CASE WHEN json_valid(l) THEN json_extract_string(l, '$.role') END AS role,
          |    CASE WHEN json_valid(l) THEN json_extract_string(l, '$.text') END AS text,
          |    CASE WHEN json_valid(l) THEN json_extract_string(l, '$.tool') END AS tool,
          |    CASE WHEN json_valid(l) THEN json_extract_string(l, '$.ts') END AS ts_raw
          |  FROM raw),
          |good AS (
          |  SELECT conv_id, turn_idx, role, text, tool, TRY_CAST(ts_raw AS TIMESTAMP) AS ts
          |  FROM parsed
          |  WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL AND text IS NOT NULL
          |    AND (ts_raw IS NULL OR TRY_CAST(ts_raw AS TIMESTAMP) IS NOT NULL))
          |SELECT (SELECT count(*) FROM good) AS n_good,
          |       (SELECT count(*) FROM raw) - (SELECT count(*) FROM good) AS n_corrupt,
          |       (SELECT CAST(sum(('0x' || substring(md5(concat_ws(chr(1), conv_id,
          |          CAST(turn_idx AS VARCHAR), role, text, tool,
          |          CAST(CAST(epoch(ts) AS BIGINT) AS VARCHAR))), 1, 15))::BIGINT % 2147483648) AS BIGINT)
          |        FROM good) AS good_digest""".stripMargin,

      "q68_dedup_ledger" ->
        s"""SELECT text_hash, doc_id AS first_id, arrival FROM (
           |  SELECT doc_id,
           |    md5(trim(regexp_replace(lower(replace(text, '_', ' ')), '\\s+', ' ', 'g'))) AS text_hash,
           |    ${lcgSql("doc_id")} AS arrival,
           |    ROW_NUMBER() OVER (
           |      PARTITION BY md5(trim(regexp_replace(lower(replace(text, '_', ' ')), '\\s+', ' ', 'g')))
           |      ORDER BY ${lcgSql("doc_id")} ASC, doc_id ASC) AS rk
           |  FROM documents) WHERE rk = 1""".stripMargin,

      // q69: the identical ±1 hyperplane matrix reconstructed from the
      // same md5("hp:<plane>:<dim>") strings; projections in 10^6 fixed
      // point (BIGINT sums — sign bit engine-invariant); band sig =
      // sum(bit * 2^(p mod r)); exact cosine re-verified on the candidates
      "q69_embed_lsh" ->
        """WITH v AS (SELECT vec_id AS id,
          |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xf
          |  FROM embeddings),
          |w AS (SELECT p.p, d.d,
          |    CASE WHEN ('0x' || substring(md5('hp:' || p.p || ':' || (d.d - 1)), 1, 15))::BIGINT % 2 = 0
          |      THEN 1 ELSE -1 END AS w
          |  FROM (SELECT unnest(generate_series(0, 31)) AS p) p,
          |       (SELECT unnest(generate_series(1, 64)) AS d) d),
          |bits AS (SELECT v.id, w.p,
          |    CASE WHEN sum(v.xf[w.d] * w.w) >= 0 THEN 1 ELSE 0 END AS bit
          |  FROM v, w GROUP BY v.id, w.p),
          |bsig AS (SELECT id, p // 8 AS band,
          |    CAST(sum(bit * CAST(power(2, p % 8) AS BIGINT)) AS BIGINT) AS sig
          |  FROM bits GROUP BY 1, 2),
          |cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2
          |  FROM bsig a JOIN bsig b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id)
          |SELECT c.id1, c.id2,
          |  round(list_dot_product(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]) /
          |    (sqrt(list_dot_product(e1.embedding::DOUBLE[], e1.embedding::DOUBLE[])) *
          |     sqrt(list_dot_product(e2.embedding::DOUBLE[], e2.embedding::DOUBLE[]))), 6) AS cosine
          |FROM cand c
          |JOIN embeddings e1 ON e1.vec_id = c.id1
          |JOIN embeddings e2 ON e2.vec_id = c.id2
          |WHERE list_dot_product(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]) /
          |  (sqrt(list_dot_product(e1.embedding::DOUBLE[], e1.embedding::DOUBLE[])) *
          |   sqrt(list_dot_product(e2.embedding::DOUBLE[], e2.embedding::DOUBLE[]))) >= 0.3""".stripMargin,

      "q70_sessionize_gap" ->
        """WITH lagd AS (SELECT user_id, event_id, value, epoch(ts) AS tse,
          |    lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY epoch(ts) ASC, event_id ASC) AS prev
          |  FROM events),
          |sess AS (SELECT user_id, event_id, value,
          |    CAST(sum(CASE WHEN prev IS NULL OR tse - prev > 600 THEN 1 ELSE 0 END)
          |      OVER (PARTITION BY user_id ORDER BY tse ASC, event_id ASC
          |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_ord
          |  FROM lagd)
          |SELECT user_id, session_ord, count(*) AS n_events,
          |  min(event_id) AS first_event, max(event_id) AS last_event,
          |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
          |FROM sess GROUP BY 1, 2""".stripMargin,

      // the same RE2-safe patterns verbatim, the same sequential
      // composition (emails → IPs → phones), counts taken on the exact
      // intermediate the next replace consumes
      "q71_redact_pii" ->
        s"""WITH inj AS (SELECT doc_id,
           |    text || ' contact user' || CAST(doc_id AS VARCHAR)
           |      || '@example.com via 10.' || CAST(doc_id % 256 AS VARCHAR)
           |      || '.0.1 tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
           |      || '-0199' AS t0
           |  FROM documents),
           |r1 AS (SELECT doc_id, t0,
           |    regexp_replace(t0, '${quality.emailPat}', '<EMAIL>', 'g') AS t1 FROM inj),
           |r2 AS (SELECT doc_id, t0, t1,
           |    regexp_replace(t1, '${quality.ipv4Pat}', '<IP>', 'g') AS t2 FROM r1)
           |SELECT doc_id AS id,
           |  CAST(len(regexp_extract_all(t0, '${quality.emailPat}')) AS BIGINT) AS n_email,
           |  CAST(len(regexp_extract_all(t1, '${quality.ipv4Pat}')) AS BIGINT) AS n_ipv4,
           |  CAST(len(regexp_extract_all(t2, '${quality.phonePat}')) AS BIGINT) AS n_phone,
           |  md5(regexp_replace(t2, '${quality.phonePat}', '<PHONE>', 'g')) AS red_md5
           |FROM r2""".stripMargin,

      // duplicated k-gram positions → gaps-and-islands span merge; pos is
      // 0-based on both sides (generate_series is 1-based, hence g - 1)
      "q72_dup_spans" ->
        s"""WITH base AS (SELECT doc_id, $toks AS tt FROM documents),
           |kg AS (SELECT doc_id, g - 1 AS pos,
           |    ('0x' || substring(md5(array_to_string(tt[g:g+${dupSpanK - 1}], ' ')), 1, 15))::BIGINT AS kgk
           |  FROM base, unnest(generate_series(1, len(tt) - ${dupSpanK - 1})) AS u(g)),
           |dupk AS (SELECT kgk FROM kg GROUP BY 1 HAVING count(*) >= 2),
           |dup AS (SELECT doc_id, pos, pos + $dupSpanK AS e FROM kg JOIN dupk USING (kgk)),
           |m AS (SELECT doc_id, pos, e,
           |    max(e) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax FROM dup),
           |isl AS (SELECT doc_id, pos, e,
           |    sum(CASE WHEN runmax IS NULL OR pos > runmax THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY doc_id ORDER BY pos
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spn FROM m)
           |SELECT doc_id AS id, CAST(min(pos) AS BIGINT) AS span_start,
           |  CAST(max(e) AS BIGINT) AS span_end
           |FROM isl GROUP BY doc_id, spn""".stripMargin,

      // the Spark side's bucketed prefix sum ≡ a plain global prefix sum
      // ordered by (md5(id), id): the bucket is the first two md5 hex
      // digits, so (bucket, md5, id) ordering IS (md5, id) ordering —
      // the same argument as the q63 rank oracle
      "q73_pack_sequences" ->
        s"""WITH tg AS (SELECT doc_id AS id, CAST(len($toks) AS BIGINT) AS n_tokens,
           |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
           |o AS (SELECT id, n_tokens,
           |    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY h ASC, id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS global_offset
           |  FROM tg)
           |SELECT id, n_tokens, global_offset,
           |  global_offset // 64 AS bin_start,
           |  CASE WHEN n_tokens > 0 THEN (global_offset + n_tokens - 1) // 64
           |       ELSE global_offset // 64 END AS bin_end
           |FROM o""".stripMargin,

      // bigram-LM NLL: the exact fixed-point contract — per-occurrence
      // floor(−10⁶·ln p) as BIGINT, context counts derived from the
      // distinct-bigram table (min(w1k), mirroring the operator)
      "q74_lm_perplexity" ->
        s"""WITH base AS (SELECT doc_id, $toks AS tt FROM documents),
           |bg AS (SELECT doc_id,
           |    ('0x' || substring(md5(tt[g]), 1, 15))::BIGINT AS w1k,
           |    ('0x' || substring(md5(array_to_string(tt[g:g+1], ' ')), 1, 15))::BIGINT AS bgk
           |  FROM base, unnest(generate_series(1, len(tt)-1)) AS u(g)),
           |vsz AS (SELECT count(DISTINCT tok) AS v FROM
           |  (SELECT unnest(tt) AS tok FROM base)),
           |model AS (SELECT bgk, count(*) AS c, min(w1k) AS w1k FROM bg GROUP BY 1),
           |ctx AS (SELECT w1k, CAST(sum(c) AS BIGINT) AS cc FROM model GROUP BY 1),
           |terms AS (SELECT g.doc_id,
           |    CAST(floor(-1000000.0 * ln((m.c + 1.0) / (x.cc + v.v))) AS BIGINT) AS t
           |  FROM bg g JOIN model m USING (bgk) JOIN ctx x ON x.w1k = g.w1k
           |  CROSS JOIN vsz v),
           |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |    CAST(sum(t) AS BIGINT) AS nll_fp FROM terms GROUP BY 1)
           |SELECT d.doc_id AS id,
           |  COALESCE(per.n_bigrams, 0) AS n_bigrams,
           |  COALESCE(per.nll_fp, 0) AS nll_fp,
           |  CASE WHEN COALESCE(per.n_bigrams, 0) = 0 THEN 0.0
           |       ELSE round(per.nll_fp / (per.n_bigrams * 1000000.0), 6)
           |  END AS avg_nll
           |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id""".stripMargin,

      // DSIR: two bigram LMs (target = source 'src0', background = all),
      // log importance weight = exact fixed-point NLL difference. The
      // target-model joins are LEFT (unseen bigrams/contexts hit the
      // smoothed floor); the background model covers every scored bigram
      // by construction but keeps the same COALESCE shape as the operator
      "q76_dsir_weights" ->
        s"""WITH $dsirCoreCtes
           |SELECT id, n_bigrams, nll_target_fp, nll_background_fp, logw_fp,
           |  round(logw_fp / 1000000.0, 6) AS log_w
           |FROM wts""".stripMargin,

      // Gumbel-top-k selection over the DSIR weights: u from the keyed
      // LCG draw (+0.5 so u is strictly inside (0,1)), the noise term in
      // the same fixed-point domain as logw_fp, global top-50 by key
      "q77_gumbel_topk" -> {
        val u = s"((${keyedSql(7L, Seq("CAST(id AS VARCHAR)"))}) + 0.5) / 2147483648.0"
        s"""WITH $dsirCoreCtes,
           |g AS (SELECT id, logw_fp,
           |    logw_fp + CAST(floor(1000000.0 * -ln(-ln($u))) AS BIGINT) AS gumbel_fp
           |  FROM wts),
           |r AS (SELECT id, logw_fp, gumbel_fp,
           |  ROW_NUMBER() OVER (ORDER BY gumbel_fp DESC, id ASC) AS rnk FROM g)
           |SELECT id, logw_fp, gumbel_fp, CAST(rnk AS BIGINT) AS rnk
           |FROM r WHERE rnk <= 50""".stripMargin
      },

      // SemDeDup: the unrolled Lloyd chain fits on vec_id < 200 (the `vec`
      // fixture CTE), ALL vectors assign to the fitted centroids, and the
      // cell-blocked a.id < b.id pair scan applies the greedy drop rule
      "q75_semantic_dedup" -> {
        val cos = (a: String, b: String) =>
          s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
        s"""WITH $kmeansVecCte,
           |$kmeansCtes,
           |cen AS (SELECT cell, list_transform(c, x -> CAST(x AS DOUBLE) / 1000000.0) AS cv FROM c2),
           |allv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
           |acell AS (SELECT id, v, cell FROM (
           |  SELECT a.id, a.v, c.cell,
           |    ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY ${cos("a.v", "c.cv")} DESC, c.cell ASC) AS rk
           |  FROM allv a CROSS JOIN cen c) t WHERE rk = 1),
           |dup AS (SELECT b.id, count(*) AS n_dups_smaller
           |  FROM acell a JOIN acell b ON a.cell = b.cell AND a.id < b.id
           |  WHERE ${cos("a.v", "b.v")} >= 0.4
           |  GROUP BY 1)
           |SELECT c.id, c.cell,
           |  COALESCE(d.n_dups_smaller, 0) AS n_dups_smaller,
           |  CAST(COALESCE(d.n_dups_smaller, 0) = 0 AS INT) AS kept
           |FROM acell c LEFT JOIN dup d ON d.id = c.id""".stripMargin
      }
    )
  }
}
