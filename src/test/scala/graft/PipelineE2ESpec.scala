package graft

import org.apache.spark.sql.functions._
import graft.operators.evalmod
import graft.plans.Pipeline
import graft.sources.fixtures

/** End-to-end golden gate (BASELINE.md): pipeline mappings vs the
  * fixture's by-construction reference alignments at P/R >= 0.95, with the
  * reference's own protocol — threshold selected by best F1 on the sweep,
  * ignored set excluded from both sides. */
class PipelineE2ESpec extends SparkSuite {
  import spark.implicits._

  private lazy val cfg = fixtures.tiny
  private lazy val turns = fixtures.transcripts(spark, cfg)
  private lazy val classes = fixtures.classes(spark, cfg)
  private lazy val edges = fixtures.edges(spark, cfg)
  private lazy val refs = fixtures.refMappings(spark, cfg)

  private lazy val result = Pipeline.run(spark, turns, classes, edges)

  test("alignment P/R >= 0.95 vs reference mappings at best threshold") {
    val (mappings, _) = result
    val ref = refs.filter(!$"is_ignored").select("entity1", "entity2", "value")
    val ign = refs.filter($"is_ignored").select("entity1", "entity2", "value")
    val sweep = evalmod.thresholdSweep(spark, mappings, ref, ign)
    val best = evalmod.bestByF1(sweep).head()
    val (p, r) = (best.getAs[Double]("p"), best.getAs[Double]("r"))
    info(s"best threshold=${best.getAs[Double]("threshold")} P=$p R=$r " +
      s"F1=${best.getAs[Double]("f1")} n=${best.getAs[Long]("n_mappings")}")
    assert(p >= 0.95, s"precision $p < 0.95")
    assert(r >= 0.95, s"recall $r < 0.95")
  }

  test("triples carry all three predicates and reference the catalogs") {
    val (_, triples) = result
    val preds = triples.select("pred").distinct().as[String].collect().toSet
    assert(preds == Set("sameAs", "mentions", "broader"))
    assert(triples.filter($"pred" === "mentions").count() > 0)
    assert(triples.filter($"pred" === "sameAs").count() > 0)
  }

  test("run releases its label caches; the lazy triples still read") {
    // other suites share the session and may leave their own caches
    spark.catalog.clearCache()
    val (_, trip) = Pipeline.run(spark, turns, classes, edges)
    val cm = spark.sharedState.cacheManager
    for (side <- Seq("src", "tgt"))
      assert(cm.lookupCachedData(Pipeline.sideLabels(classes, side)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isEmpty, side)
    // nothing else stays pinned either (the edges included)
    assert(cm.isEmpty, "run left data in the CacheManager")
    assert(trip.filter($"pred" === "broader").count() > 0)
  }

  test("flagship entry returns non-empty triples (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("mode dispatch: nes mode equals classifier mode (same lexical kernel), embeds mode aligns") {
    val src = Pipeline.sideLabels(classes, "src")
    val tgt = Pipeline.sideLabels(classes, "tgt")
    // every mode leaves nothing in the CacheManager once its directions are done
    def cacheReleased(mode: String): Unit =
      assert(spark.sharedState.cacheManager.isEmpty, s"$mode left data in the CacheManager")
    def maps(mode: String) = {
      spark.catalog.clearCache()
      val m = Pipeline.rawMappings(spark, src, tgt, Pipeline.Params(mode = mode))
        .select("entity1", "entity2").as[(String, String)].collect().toSet
      cacheReleased(mode)
      m
    }
    // the classifier stand-in IS the lexical kernel, so nes mode must
    // produce the identical mapping set
    assert(maps("nes") == maps("classifier"))
    // embeds mode is a different scorer (hashed-BoW cosine) — assert it
    // produces a usable alignment rather than identical output
    val ref = refs.filter(!$"is_ignored")
      .select("entity1", "entity2").as[(String, String)].collect().toSet
    spark.catalog.clearCache()
    val emb = Pipeline.rawMappings(spark, src, tgt, Pipeline.Params(mode = "embeds"))
    val embBest = graft.operators.align.atThreshold(emb, 0.5)
      .select("entity1", "entity2").as[(String, String)].collect().toSet
    cacheReleased("embeds")
    val tp = embBest.intersect(ref).size.toDouble
    info(s"embeds mode: ${embBest.size} mappings, P=${tp / embBest.size}, R=${tp / ref.size}")
    assert(embBest.nonEmpty && tp / embBest.size >= 0.5,
      s"embeds-mode precision ${tp / embBest.size} unusably low")
    intercept[IllegalArgumentException](
      Pipeline.rawMappings(spark, src, tgt, Pipeline.Params(mode = "bogus")))
    // Params checks its own choices when it is built, before any job runs
    intercept[IllegalArgumentException](Pipeline.Params(mode = "bogus"))
    intercept[IllegalArgumentException](Pipeline.Params(linker = "bogus"))
  }

  test("nes mode scores with Params.scorer") {
    val src = Pipeline.sideLabels(classes, "src")
    val tgt = Pipeline.sideLabels(classes, "tgt")
    val sp = graft.operators.score.ScorerParams(jaccardWeight = 0.0, editWeight = 1.0)
    val rows = Pipeline.rawMappings(spark, src, tgt, Pipeline.Params(mode = "nes", scorer = sp))
      .as[(String, String, Double)].collect()
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String)].collect().groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val (l1s, l2s) = (labels(src), labels(tgt))
    assert(rows.nonEmpty)
    for ((e1, e2, v) <- rows) {
      val want = (for (a <- l1s(e1); b <- l2s(e2))
        yield graft.operators.score.scorePair(sp, a, b)).max
      assert(math.abs(v - want) < 1e-12, s"($e1, $e2): value=$v scorePair=$want")
    }
  }

  test("keep sees the phases in order, each on the calling thread") {
    val caller = Thread.currentThread()
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Thread)]
    Pipeline.run(spark, turns, classes, edges, keep = (n, df) => {
      seen += n -> Thread.currentThread()
      df
    })
    assert(seen.map(_._1) == Seq("mentions", "mappings", "repaired", "triples"))
    for ((n, t) <- seen) assert(t eq caller, s"$n ran on ${t.getName}")
  }

  test("linker=join fallback: identical triples to the broadcast-trie kernel") {
    // the graceful-degradation path for catalogs past maxDictEntities: the
    // distributed n-gram dictionary join must be a drop-in replacement
    def trips(p: Pipeline.Params) = {
      val (_, t) = Pipeline.run(spark, turns, classes, edges, p)
      t.select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
    }
    val viaTrie = trips(Pipeline.Params(linker = "trie"))
    val viaJoin = trips(Pipeline.Params(linker = "join"))
    assert(viaJoin == viaTrie)
    // auto routes to join when the dict-size guard trips, instead of failing
    val viaAuto = trips(Pipeline.Params(linker = "auto", maxDictEntities = 1L))
    assert(viaAuto == viaTrie)
    // explicit trie with an oversized catalog still fails loudly
    intercept[IllegalArgumentException](
      trips(Pipeline.Params(linker = "trie", maxDictEntities = 1L)))
  }

  test("a kept phase's body is never evaluated") {
    // keep the mappings phase as a crafted mapping set that natural
    // alignment would never produce alone; if the chain ran, sameAs would
    // contain its full output instead of (at most the extension closure
    // of) this one pair
    val src = classes.filter(_.onto == "src").head().class_iri
    val tgt = classes.filter(_.onto == "tgt").head().class_iri
    val crafted = Seq((src, tgt, 1.0)).toDF("entity1", "entity2", "value")
    val (_, triples) = Pipeline.run(spark, turns, classes, edges,
      keep = (n, df) => if (n == "mappings") crafted else df)
    val sameAs = triples.filter($"pred" === "sameAs")
      .select("subj", "obj").as[(String, String)].collect().toSet
    val natural = result._1.count()
    assert(sameAs.contains((src, tgt)))
    // extension can add 1-hop neighbors of the seed, never the full natural set
    assert(sameAs.size < natural,
      s"sameAs=${sameAs.size} >= natural=$natural: alignment chain ran despite the kept mappings")
  }

  test("production path: flagship runs a real INDUCED WordPiece vocab at P/R = 1.0") {
    // the de-facto production index path (Pipeline.flagship, q40-family,
    // Bench): vocab induced from the catalog's own label words. Must be a
    // genuine sub-word vocab, hit full mapping quality, and land the same
    // triple set as the default run, whose vocab rawMappings induces with
    // its own merge count.
    val v = Pipeline.induceCatalogVocab(spark, classes, nMerges = 100)
    assert(v.exists(_.startsWith("##")), "vocab has no continuation pieces")
    assert(v.exists(p => p.length > 2 && !p.startsWith("##")),
      "no learned multi-char pieces")
    val (mappings, trip) = Pipeline.run(spark, turns, classes, edges,
      Pipeline.Params(wordpieceVocab = Some(v)))
    val ref = refs.filter(!$"is_ignored").select("entity1", "entity2", "value")
    val ign = refs.filter($"is_ignored").select("entity1", "entity2", "value")
    val best = evalmod.bestByF1(evalmod.thresholdSweep(spark, mappings, ref, ign)).head()
    assert(best.getAs[Double]("p") >= 0.95 && best.getAs[Double]("r") >= 0.95,
      s"induced-vocab flagship P/R below gate: $best")
    val wpSet = trip.as[(String, String, String, Double)].collect().toSet
    val defSet = result._2.as[(String, String, String, Double)].collect().toSet
    assert(wpSet == defSet,
      s"nMerges=100 induced-vocab triples diverge from the default run: " +
        s"only-wp=${(wpSet -- defSet).take(3)} only-def=${(defSet -- wpSet).take(3)}")
  }

  test("induced-vocab flagship digest is the q40t constant at nMerges 30, 100 and 400") {
    // the q40t/q61 oracle constants do not depend on how many merges
    // built the induced vocab
    for (n <- Seq(30, 100, 400)) {
      val (_, trip) = Pipeline.run(spark, turns, classes, edges,
        Pipeline.Params(wordpieceVocab = Some(Pipeline.induceCatalogVocab(spark, classes, n))))
      val d = graft.operators.canonical.tripleDigest(trip).head()
      assert((0 until 5).map(d.getLong) == Seq(476L, 100L, 280L, 96L, 485655843568L),
        s"nMerges=$n digest=$d")
    }
  }

  test("wordpieceVocab: a whole-word vocab reproduces the word-tokenizer pipeline exactly") {
    // greedy longest-match against a vocab containing every catalog word
    // matches each word whole — so each side's postings under the
    // wordpiece tokenizer must be IDENTICAL to the plain word tokenizer's.
    // Pins the vocab plumbing (broadcast, tokenizer slot) where the index
    // is built.
    import graft.functions.text
    val vocab = classes.collect().toSeq
      .flatMap(c => text.normalizeLabels(c.labels))
      .flatMap(text.wordTokens).toSet
    val wp = Pipeline.tokenizerFor(spark, Pipeline.Params(wordpieceVocab = Some(vocab)))
    for (side <- Seq("src", "tgt")) {
      def postings(tok: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        Pipeline.sidePostings(Pipeline.sideLabels(classes, side), 0, tok).collect().toSet
      val word = postings(text.wordTokensCol)
      val piece = postings(wp)
      assert(piece == word,
        s"$side: wordpiece(all-words vocab) diverged from word tokenizer: " +
          s"only-word=${(word -- piece).take(3)} only-wp=${(piece -- word).take(3)}")
      assert(word.nonEmpty)
    }
  }

  test("default index tokenizer: the vocab induced from the labels being aligned") {
    // the vocab-free splitter shares no token between "ab" and "xab"; the
    // vocab induced from these two labels, {a, ##a, ##b, x}, pieces both
    // and shares "##b", so the default run aligns them
    val src = Seq(("s1", "ab")).toDF("id", "label")
    val tgt = Seq(("t1", "xab")).toDF("id", "label")
    val rows = Pipeline.rawMappings(spark, src, tgt, Pipeline.Params())
      .as[(String, String, Double)].collect().toSeq
    assert(rows.map(r => (r._1, r._2)) == Seq(("s1", "t1")), rows)
    assert(math.abs(rows.head._3 - 1.0 / 3) < 1e-9, rows)
    // the tokenizer itself never picks a vocab: rawMappings resolves it first
    intercept[IllegalArgumentException](Pipeline.tokenizerFor(spark, Pipeline.Params()))
  }

  test("reliable materialization: the full pipeline (iterative loops included) is mode-invariant") {
    // every stage.materialize site — extension loop, repair, the corpus-
    // style lineage cuts — must produce identical triples under the
    // cluster-safe checkpoint-dir policy as under localCheckpoint
    val dir = java.nio.file.Files.createTempDirectory("graft-chk-e2e").toString
    spark.sparkContext.setCheckpointDir(dir)
    def triples() = {
      val (_, trip) = Pipeline.run(spark, turns, classes, edges)
      trip.as[(String, String, String, Double)].collect().toSet
    }
    val local = triples()
    spark.conf.set("spark.graft.materialize", "reliable")
    try {
      val reliable = triples()
      assert(reliable == local)
      assert(reliable.nonEmpty)
    } finally spark.conf.set("spark.graft.materialize", "local")
  }

  test("stage.materialize reliable mode survives via the checkpoint dir (fault-tolerant lineage cut)") {
    // the cluster-safe materialization policy: blocks go to the checkpoint
    // dir (HDFS/S3A on a cluster), so executor loss / dynamic-allocation
    // decommission can recompute — unlike localCheckpoint's executor-local
    // blocks. Same lineage-truncation contract as the default local mode.
    val dir = java.nio.file.Files.createTempDirectory("graft-chk").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.materialize", "reliable")
    try {
      val df = Seq(1, 2, 3).toDF("x").withColumn("y", col("x") * 2)
      val m = graft.plans.stage.materialize(df)
      assert(m.select(sum(col("y"))).as[Long].head() == 12L)
      // lineage is truncated: the materialized plan no longer contains the
      // arithmetic projection, it reads checkpointed blocks
      assert(!m.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
      // and the blocks are durable files under the checkpoint dir
      val files = new java.io.File(dir).listFiles()
      assert(files != null && files.nonEmpty)
    } finally {
      spark.conf.set("spark.graft.materialize", "local")
    }
  }
}
