package graft.plans

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import graft.plans.stage.implicits._
import graft.model._
import graft.functions.text
import graft.operators._
import graft.sources.fixtures

/**
 * End-to-end KG-construction pipeline (the flagship lifecycle, SURVEY.md
 * §3.1 re-expressed Spark-first):
 *
 *   transcripts ──mention-detect──▶ mentions
 *   catalogs ──normalize──▶ labels ──induce──▶ WordPiece vocab
 *   labels ──WordPiece──▶ postings ──▶ IDF cands
 *   candidates ──string-match split──▶ (1.0 pairs) ∪ (scored pairs)
 *   pooled ──n-best per side──▶ union ──▶ raw mappings
 *   raw ──greedy 1-hop extension──▶ extended ──repair──▶ final mappings
 *   final + mentions + hierarchy ──▶ (subj, pred, obj, score) triples
 *
 * Every stage is a deterministic function of the ordered input: turn order
 * is pinned by windows over (conv_id, turn_idx) wherever order matters, and
 * all tie-breaks/seeds are explicit, so output is identical at any
 * parallelism — asserted by the determinism suite.
 */
object Pipeline {

  final case class Params(
      maxDictEntities: Long = route.MaxCatalog, // guard on the driver-side catalog
                                    // collect feeding the broadcast trie —
                                    // larger catalogs must use the
                                    // join-based linker (mentions.detectJoin)
      wordpieceVocab: Option[Set[String]] = None,
                                    // the index's WordPiece vocab (the
                                    // reference's AutoTokenizer checkpoint
                                    // vocab, onto_index.py:38-47); unset,
                                    // rawMappings induces one from the
                                    // labels it aligns
      linker: String = "auto") {    // trie | join | auto — mention-detect
                                    // kernel: collected broadcast trie
                                    // (fast, bounded by maxDictEntities) vs
                                    // distributed n-gram dictionary join
                                    // (no driver collect, any catalog
                                    // size); auto routes on the count
    require(Set("auto", "trie", "join")(linker), s"linker must be auto|trie|join, got $linker")

    // Fixed settings: like BERTMap's config.json, one value each. They are
    // members rather than local constants because perfbench's traced copy
    // of `run` reads them as `p.candidateLimit`, `p.scorer`, `p.kappa` and
    // so on.
    val candidateLimit: Int = 25    // config.json:41-47 uses {25..200}
    val scorer: score.ScorerParams = score.ScorerParams() // 0.5·Jaccard +
                                    // 0.5·NES, the classifier stand-in's
                                    // weights (score.kernel)
    val nbest: Int = 1              // config.json:49
    val pooling: String = "max"     // mean|max (config.json uses mean; max
                                    // suits the lexical stand-in scorer,
                                    // whose off-pairs drag the mean down)
    val threshold: Double = 0.5     // mapping acceptance threshold
    val kappa: Double = 0.9         // extension threshold (extend_bertmap.py:108)
    val maxExtendIter: Int = 5      // 50 in reference; fixture DAGs are shallow
    val tokenCut: Int = 0           // onto_index cut (config.json:11)
    val maxDfFrac: Double = 1.0     // no stop-token cap (index.idfCandidates)
    val saltBuckets: Int = 1        // no skew-join salt (index.idfCandidates)
  }

  /** Index tokenizer for `p`: greedy longest-match WordPiece
    * (`text.wordpieceTokensCol`) over `p.wordpieceVocab`, broadcast once.
    * Fails without a vocab: `rawMappings` induces one first. */
  def tokenizerFor(spark: SparkSession, p: Params)
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val pieces = p.wordpieceVocab.getOrElse(throw new IllegalArgumentException(
      "tokenizerFor needs Params.wordpieceVocab (rawMappings induces one from the labels)"))
    val bc = spark.sparkContext.broadcast(pieces)
    c => text.wordpieceTokensCol(bc)(c)
  }

  /** Normalized (id, label) long form of one catalog side. */
  def sideLabels(classes: Dataset[ClassText], onto: String): DataFrame =
    classes.toDF()
      .filter(col("onto") === onto)
      .select(col("class_iri").as("id"),
        explode(text.normalizeLabelsCol(col("labels"))).as("label"))
      .distinct()

  /** Token postings of one side, shared by both alignment directions
    * (the same explode+distinct serves as index postings and as query
    * tokens). `tok` is the index tokenizer, `tokenizerFor(spark, p)` in
    * the flagship (onto_index.py:38-47). */
  def sidePostings(labels: DataFrame, tokenCut: Int,
                   tok: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame =
    index.postingsFromText(labels, "id", "label", tokenCut, tok)

  /** Both directions + union (onto_map.py:146) of the classifier mapping
    * mode, the reference's default (run_bertmap.py:293-367): per direction
    * `align.direction` with the classifier hop, the fused string-match +
    * lexical scorer (`score.scorePooledWithStringMatch`, clamped to
    * [0, 1]). `srcLabels`/`tgtLabels` are (id, label) long form
    * (`sideLabels`). The index tokenizes with `p.wordpieceVocab`, or,
    * unset, with the vocab induced from both sides' label words
    * (`labelVocab`). Returns both directions as one lazy plan, so Spark
    * schedules the independent direction DAGs itself. */
  def rawMappings(spark: SparkSession, srcLabels: DataFrame, tgtLabels: DataFrame,
                  p: Params): DataFrame = {
    val tok = tokenizerFor(spark, p.copy(wordpieceVocab = p.wordpieceVocab.orElse(
      Some(labelVocab(spark, srcLabels.unionByName(tgtLabels), VocabMerges)))))
    val srcPost = sidePostings(srcLabels, p.tokenCut, tok)
    val tgtPost = sidePostings(tgtLabels, p.tokenCut, tok)
    val (dSrc, dTgt) = align.sideSizes(srcLabels, tgtLabels)
    def direction(from: DataFrame, to: DataFrame, fromPost: DataFrame,
                  toPost: DataFrame, d: Long, fromIsSrc: Boolean) =
      align.orient(
        align.direction(fromPost, toPost, d, p.candidateLimit, p.nbest) { cands =>
          // fused string-match + scoring (see scorePooledWithStringMatch:
          // same semantics as the stringMatchSplit anti-join path, half the
          // plan; the split path remains the choice for expensive neural
          // scorers)
          score.clamp(score.scorePooledWithStringMatch(spark,
            align.labelPairs(cands, from, to), p.pooling, p.scorer))
        },
        fromIsSrc)
    align.combine(
      direction(srcLabels, tgtLabels, srcPost, tgtPost, dTgt, fromIsSrc = true),
      direction(tgtLabels, srcLabels, tgtPost, srcPost, dSrc, fromIsSrc = false))
  }

  /** Full run over in-memory inputs; returns (mappings, triples).
    *
    * The phases, in order: `mentions` (detect → stabilize), `mappings`
    * (both alignment directions at the threshold), `repaired` (extension
    * → union → repair) and `triples` (canonicalization). `run` passes
    * each phase's body to `keep` under its name. The default evaluates
    * the body; `plans.Main` stages it through `lineage.stage`, so a phase
    * whose manifest matches is read back and its body never runs.
    *
    * Nothing stays cached after `run`: the label caches are released once
    * `repaired` exists, and the lazy triples re-read the edges from
    * `edges`. */
  def run(spark: SparkSession, turns: Dataset[Turn], classes: Dataset[ClassText],
          edges: Dataset[Edge], p: Params = Params(),
          keep: (String, => DataFrame) => DataFrame = (_, df) => df)
      : (DataFrame, DataFrame) = {
    val mens = keep("mentions", {
      val dictDs = classes.filter(col("onto") === "src")
      // one route probe decides trie vs join AND feeds the trie; a catalog
      // past maxDictEntities takes the join linker (auto) or fails (trie)
      val dict =
        if (p.linker == "join") None
        else route.local(dictDs, p.maxDictEntities, "linker dictionary")
      require(p.linker != "trie" || dict.isDefined,
        s"catalog has > maxDictEntities=${p.maxDictEntities} entities: " +
          "the driver-side collect + broadcast-trie path would OOM the " +
          "driver; use linker=join (distributed n-gram dictionary join)")
      val detected = dict match {
        case Some(d) => mentions.detect(spark, turns, d.toSeq)
        case None => mentions.detectJoin(spark, turns, dictDs)
      }
      // stabilize = the per-conversation ordering window over (conv_id,
      // turn_idx), at cluster width: the catalog-side shuffle.partitions
      // default is sized for tiny dimension stages. Deliberately lazy: the
      // triples are the mentions' one consumer, and an eager materialize
      // here measured slower (the store + re-read of the mention rows costs
      // more than it saves), so the one final action runs the fused
      // scan → detect → stabilize DAG once.
      mentions.stabilize(detected.toDF(), stage.width(spark))
    })

    // catalog sides are dimension tables: cache once, reused ~6 times
    val srcLabels = sideLabels(classes, "src").cache()
    val tgtLabels = sideLabels(classes, "tgt").cache()

    val raw = keep("mappings",
      align.atThreshold(rawMappings(spark, srcLabels, tgtLabels, p), p.threshold)
        .materialize)

    val srcEdges = edges.toDF().filter(col("onto") === "src")
      .select("child_iri", "parent_iri")
    val tgtEdges = edges.toDF().filter(col("onto") === "tgt")
      .select("child_iri", "parent_iri")

    val repaired = keep("repaired", {
      // Catalog-sized inputs: one bounded probe each, then the driver twins
      // and one local relation. Ids and labels must be strings; a null in
      // any of them, or an input past the bound, keeps the distributed
      // operators. The value needs no check: atThreshold's filter drops
      // nulls.
      val b = RepairedMaxRows
      val strings = Set[DataType](StringType)
      val mappings = raw.select(col("entity1"), col("entity2"), col("value").cast("double").as("value"))
      def tagged(side: String, df: DataFrame) = df.select(lit(side).as("side"), col("id"), col("label"))
      // the labels, the largest input, go first: past the bound, the other
      // two are never collected
      val collected = for {
        l <- route.local(tagged("src", srcLabels).unionByName(tagged("tgt", tgtLabels)), b,
          "repaired labels", Seq("id", "label"), strings)
        e <- route.local(edges.toDF().select("onto", "child_iri", "parent_iri"), b,
          "repaired edges", Seq("child_iri", "parent_iri"), strings)
        m <- route.local(mappings, b, "repaired mappings", Seq("entity1", "entity2"), strings)
      } yield (m, e, l)
      collected match {
        case Some((m, e, l)) =>
          def side(rows: Array[Row], s: String) =
            rows.toSeq.filter(_.get(0) == s).map(r => (r.getString(1), r.getString(2)))
          val (sE, tE) = (side(e, "src"), side(e, "tgt"))
          val seeds = m.toSeq.map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
          val expansion = extend.local(seeds, sE, tE, side(l, "src"), side(l, "tgt"),
            p.kappa, p.maxExtendIter, p.scorer)
          spark.createDataFrame(
            repair.local(seeds ++ expansion, sE, tE).map(Row.fromTuple).asJava, mappings.schema)
        case None =>
          val expansion = extend.extendMappings(spark, raw, srcEdges, tgtEdges,
            srcLabels, tgtLabels, p.kappa, p.maxExtendIter, p.scorer)
          // the union has no duplicate pair: raw is one row per pair
          // (align.combine), and the expansion holds only pairs that neither
          // the seeds nor an earlier iteration hold (extend's `seen` anti-join)
          repair.repairMappings(raw.unionByName(expansion), srcEdges, tgtEdges).materialize
      }
    })
    srcLabels.unpersist(blocking = false)
    tgtLabels.unpersist(blocking = false)

    val trip = keep("triples", {
      // repaired is 1-to-1 by construction (repair.oneToOne), so components
      // are single edges — the O(1)-round rule replaces the iterative CC
      // (canonical.connectedComponents stays the general-graph operator)
      val comps = canonical.matchingComponents(repaired)
      // canonicalization rewrites the *references* to entities (mentions,
      // hierarchy) onto canonical ids; the sameAs edges keep their original
      // endpoints — they ARE the alignment evidence
      val broader = canonical.rewrite(srcEdges.unionByName(tgtEdges), comps,
        "child_iri", "parent_iri")
        .filter(col("child_iri") =!= col("parent_iri"))
        .distinct()
      canonical.triples(repaired, canonical.rewrite(mens, comps, "class_iri"), broader)
    })
    (repaired, trip)
  }

  /** Row bound of each of the `repaired` phase's three route probes,
    * measured rather than borrowed from `route.MaxCatalog`: the driver twins
    * score single-threaded and hold every collected row. On a 4-core host
    * with a 4 GB driver (generated catalogs, extension and repair timed
    * through `run`'s keep hook against `extendMappings` + `repairMappings`)
    * the local route was 1.6-2.2x faster up to 1.28M label rows, and at
    * 1.0M label rows (200k concepts) it added up to 2.7 GB of peak heap.
    * Clusters with more cores than that host shift the break-even lower. */
  private val RepairedMaxRows = 1000000L

  /** Merge rounds of the induced index vocab. */
  private val VocabMerges = 200

  /** A real WordPiece vocab induced from label words (`vocab.induce`, `nMerges`
    * merges over the word histogram of the `label` column): the flagship's
    * index tokenizer, mirroring the reference's always-real-vocab index
    * (onto_index.py:38-47) without an external checkpoint file. The
    * histogram is catalog-dimension (never transcript-proportional) and
    * the result is deterministic at any parallelism (VocabSpec). */
  private def labelVocab(spark: SparkSession, labels: DataFrame, nMerges: Int): Set[String] =
    vocab.induce(spark, vocab.wordHistogram(labels, "label"), nMerges)

  /** `labelVocab` over both catalog sides' `sideLabels`: at the default
    * `nMerges`, the vocab `run`'s `rawMappings` induces when the caller
    * sets none. */
  def induceCatalogVocab(spark: SparkSession, classes: Dataset[ClassText],
                         nMerges: Int = VocabMerges): Set[String] =
    labelVocab(spark, sideLabels(classes, "src").unionByName(sideLabels(classes, "tgt")), nMerges)

  /** Tiny flagship for the driver smoke-check (rows>0 at sf0.001-ish
    * scale); returns `run`'s (mappings, triples) with default `Params`, so
    * the index runs the vocab induced from the catalog, as `plans.Main`
    * does. PipelineE2ESpec + the q40g/q40t constants pin that this path
    * reproduces the flagship mapping quality and triple set. */
  def flagship(spark: SparkSession): (DataFrame, DataFrame) = {
    val cfg = fixtures.tiny
    run(spark,
      fixtures.transcripts(spark, cfg),
      fixtures.classes(spark, cfg),
      fixtures.edges(spark, cfg))
  }
}
