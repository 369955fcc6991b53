package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.operators._
import graft.plans.Pipeline
import graft.plans.stage
import graft.plans.stage.implicits._
import graft.sources.{fixtures, tables}

/**
 * The flagship workloads: induced WordPiece vocab → `Pipeline.run` →
 * triples written with `tables.writeTriples`, over `fixtures` inputs
 * written to parquet once during set-up and scanned by every rep.
 */
object Flagship {

  /** Input size of one flagship workload. */
  final case class Size(nConcepts: Int, nConvs: Int, warmup: Int)

  def size(workload: String, smoke: Boolean): Size = (workload, smoke) match {
    case (_, true)                => Size(nConcepts = 100, nConvs = 400, warmup = 1)
    case ("transcripts_large", _) => Size(nConcepts = 500, nConvs = 40000, warmup = 1)
    case ("catalog_large", _)     => Size(nConcepts = 1000, nConvs = 2000, warmup = 1)
    case (w, _) => throw new IllegalArgumentException(s"not a flagship workload: $w")
  }

  final case class Inputs(dir: String, cfg: fixtures.Config, nTurns: Long, nClasses: Long)

  final case class Loaded(turns: Dataset[Turn], classes: Dataset[ClassText], edges: Dataset[Edge])

  /** Order-free content digest of a triple table (the q40t shape):
    * per-predicate counts plus the sum of per-row md5 prefixes. */
  final case class Digest(nTriples: Long, nSameAs: Long, nMentions: Long,
                          nBroader: Long, hashSum: Long) {
    def key: String = s"$nTriples/$nSameAs/$nMentions/$nBroader/$hashSum"
  }

  /** Write the fixture tables for `cfg` under `dir` and count the turns. */
  def prepare(spark: SparkSession, cfg: fixtures.Config, dir: String): Inputs = {
    fixtures.transcripts(spark, cfg).write.mode("overwrite").parquet(s"$dir/turns")
    fixtures.classes(spark, cfg).write.mode("overwrite").parquet(s"$dir/classes")
    fixtures.edges(spark, cfg).write.mode("overwrite").parquet(s"$dir/edges")
    val l = load(spark, dir)
    Inputs(dir, cfg, l.turns.count(), l.classes.count())
  }

  def load(spark: SparkSession, dir: String): Loaded = {
    import spark.implicits._
    Loaded(tables.readTranscripts(spark, s"$dir/turns").as[Turn],
      spark.read.parquet(s"$dir/classes").as[ClassText],
      spark.read.parquet(s"$dir/edges").as[Edge])
  }

  /** One untraced rep, as a user's job runs it. Returns (seconds, final mappings). */
  def rep(spark: SparkSession, in: Inputs, out: String): (Double, DataFrame) = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val l = load(spark, in.dir)
    val vocab = Pipeline.induceCatalogVocab(spark, l.classes)
    val (mappings, triples) = Pipeline.run(spark, l.turns, l.classes, l.edges,
      Pipeline.Params(wordpieceVocab = Some(vocab)))
    tables.writeTriples(triples, out)
    ((System.nanoTime() - t0) / 1e9, mappings)
  }

  def digest(spark: SparkSession, path: String): Digest = {
    val trip = tables.readTriples(spark, path)
    val rowKey = concat_ws("\u0001", col("subj"), col("pred"), col("obj"),
      round(col("score"), 6).cast("string"))
    val h = pmod(conv(substring(md5(rowKey), 1, 15), 16, 10).cast("long"), lit(2147483648L))
    def n(pred: String) = sum(when(col("pred") === pred, 1L).otherwise(0L))
    val r = trip.agg(count(lit(1)), n("sameAs"), n("mentions"), n("broader"),
      coalesce(sum(h), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  /** Mapping precision/recall against the fixture's reference alignments. */
  def prf(spark: SparkSession, cfg: fixtures.Config, mappings: DataFrame): evalmod.PRF = {
    val refs = fixtures.refMappings(spark, cfg)
    val keep = Seq("entity1", "entity2", "value").map(col)
    evalmod.prf(mappings, refs.filter(!col("is_ignored")).select(keep: _*),
      refs.filter(col("is_ignored")).select(keep: _*))
  }

  /** Counts and ratios measured at the traced rep's layer boundaries. */
  final case class LayerStats(candidatePairs: Long, labelPairs: Long, scoredPairs: Long,
                              exactPairs: Long, keptPairs: Long, extended: Long,
                              repaired: Long, mentionRows: Long)

  /**
   * One traced rep: the calls `Pipeline.run` makes, in its order, each
   * inside a span and materialized at its boundary so the span holds its
   * layer's work. Sequential where `Pipeline.run` overlaps the transcript
   * path with the alignment chain, so it is slower than an untraced rep;
   * its triples must equal the untraced rep's.
   */
  def tracedRep(spark: SparkSession, in: Inputs, out: String,
                tr: Trace): (DataFrame, LayerStats) = {
    spark.catalog.clearCache()
    tr.span("rep") {
      val l = load(spark, in.dir)
      val width = spark.sparkContext.defaultParallelism
      val vocab = tr.span("vocab.induce") { Pipeline.induceCatalogVocab(spark, l.classes) }
      val p = Pipeline.Params(wordpieceVocab = Some(vocab))

      val (srcLabels, tgtLabels, srcPost, tgtPost, dSrc, dTgt) = tr.span("index.postings") {
        val srcLabels = Pipeline.sideLabels(l.classes, "src").cache()
        val tgtLabels = Pipeline.sideLabels(l.classes, "tgt").cache()
        val tok = Pipeline.tokenizerFor(spark, p)
        val srcPost = Pipeline.sidePostings(srcLabels, p.tokenCut, tok).cache()
        val tgtPost = Pipeline.sidePostings(tgtLabels, p.tokenCut, tok).cache()
        srcPost.count()
        tgtPost.count()
        (srcLabels, tgtLabels, srcPost, tgtPost,
          srcLabels.select("id").distinct().count(), tgtLabels.select("id").distinct().count())
      }

      var cands, pairsN, scoredN, exactN, keptN = 0L
      // Pipeline.alignOneSide, one layer per span
      def direction(fromLabels: DataFrame, toLabels: DataFrame, fromPost: DataFrame,
                    toPost: DataFrame, d: Long, fromIsSrc: Boolean): DataFrame = {
        val c = tr.span("index.candidates") {
          val c = index.idfCandidates(fromPost.withColumnRenamed("class_id", "query_id"),
              toPost, d, p.candidateLimit, p.maxDfFrac, p.saltBuckets,
              broadcastPostings = Some(true), widthHint = width)
            .select(col("query_id").as("from_id"), col("class_id").as("to_id"))
            .materialize
          cands += c.count()
          c
        }
        val scored = tr.span("score.pairs") {
          val pairs = c
            .join(fromLabels.select(col("id").as("from_id"), col("label").as("l1")), "from_id")
            .join(toLabels.select(col("id").as("to_id"), col("label").as("l2")), "to_id")
            .select("from_id", "to_id", "l1", "l2")
            .materialize
          pairsN += pairs.count()
          val s = score.scorePooledWithStringMatch(spark, pairs, p.pooling, p.scorer).materialize
          val r = s.agg(count(lit(1)), sum(when(col("score") === 1.0, 1L).otherwise(0L))).head()
          scoredN += r.getLong(0)
          exactN += Option(r.get(1)).fold(0L)(_.asInstanceOf[Long])
          s
        }
        tr.span("align.nbest") {
          val k = align.orient(align.nBest(score.clamp(scored), p.nbest), fromIsSrc).materialize
          keptN += k.count()
          k
        }
      }
      val s2t = direction(srcLabels, tgtLabels, srcPost, tgtPost, dTgt, fromIsSrc = true)
      val t2s = direction(tgtLabels, srcLabels, tgtPost, srcPost, dSrc, fromIsSrc = false)
      val raw = tr.span("align.nbest") {
        align.atThreshold(align.combine(s2t, t2s), p.threshold).materialize
      }

      val (srcEdges, tgtEdges, expansion) = tr.span("extend.extend") {
        val srcEdges = l.edges.toDF().filter(col("onto") === "src")
          .select("child_iri", "parent_iri").cache()
        val tgtEdges = l.edges.toDF().filter(col("onto") === "tgt")
          .select("child_iri", "parent_iri").cache()
        (srcEdges, tgtEdges, extend.extendMappings(spark, raw, srcEdges, tgtEdges,
          srcLabels, tgtLabels, p.kappa, p.maxExtendIter, p.scorer).materialize)
      }
      val (repaired, nExtended, nRepaired) = tr.span("repair.repair") {
        val extended = raw.unionByName(expansion)
          .groupBy("entity1", "entity2").agg(max(col("value")).as("value")).materialize
        val r = repair.repairMappings(extended, srcEdges, tgtEdges).materialize
        (r, extended.count(), r.count())
      }

      val detected = tr.span("mentions.detect") {
        val dict = l.classes.filter(col("onto") === "src")
          .limit(math.min(p.maxDictEntities + 1, Int.MaxValue.toLong).toInt).collect()
        require(dict.length <= p.maxDictEntities,
          s"catalog has ${dict.length} > maxDictEntities=${p.maxDictEntities} entities; " +
            "the traced rep follows only the trie linker route")
        stage.materializeDs(mentions.detect(spark, l.turns, dict.toSeq))
      }
      val (mens, nMentions) = tr.span("mentions.stabilize") {
        val m = mentions.stabilize(detected.toDF(), width).materialize
        (m, m.count())
      }

      // Pipeline.run's canonicalization, verbatim
      val trip = tr.span("canonical.triples") {
        val comps = canonical.matchingComponents(repaired)
        val mensCanon = mens
          .join(broadcast(comps.select(col("id").as("class_iri"), col("canonical"))),
            Seq("class_iri"), "left")
          .select(col("conv_id"), col("turn_idx"), col("onto"),
            coalesce(col("canonical"), col("class_iri")).as("class_iri"), col("surface"))
        val broaderCanon = srcEdges.unionByName(tgtEdges)
          .join(broadcast(comps.select(col("id").as("child_iri"), col("canonical").as("cc"))),
            Seq("child_iri"), "left")
          .join(broadcast(comps.select(col("id").as("parent_iri"), col("canonical").as("cp"))),
            Seq("parent_iri"), "left")
          .select(coalesce(col("cc"), col("child_iri")).as("child_iri"),
            coalesce(col("cp"), col("parent_iri")).as("parent_iri"))
          .filter(col("child_iri") =!= col("parent_iri"))
          .distinct()
        canonical.triples(repaired, mensCanon, broaderCanon).materialize
      }
      tr.span("tables.write") { tables.writeTriples(trip, out) }
      (repaired, LayerStats(cands, pairsN, scoredN, exactN, keptN, nExtended, nRepaired, nMentions))
    }
  }

  /** Layer spans of the traced rep, in `Pipeline.run`'s order. */
  val Layers: Seq[String] = Seq("vocab.induce", "index.postings", "index.candidates",
    "score.pairs", "align.nbest", "extend.extend", "repair.repair", "mentions.detect",
    "mentions.stabilize", "canonical.triples", "tables.write")
}
