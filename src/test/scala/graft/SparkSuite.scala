package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{align, index, nes, score}
import graft.plans.Pipeline

/** Shared local session for all suites (getOrCreate → one JVM-wide). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
}

object specAlign {
  /** One nes-mode direction over (id, label) long-form sides, top-1 of 5
    * candidates: word-token postings of each side into `align.direction`
    * with the nes hop (q50's plan, ranked by the float IDF). `d` is the
    * to-side class count. */
  def nesDirection(from: DataFrame, to: DataFrame, d: Long,
                   p: score.ScorerParams = score.ScorerParams()): DataFrame =
    align.direction(index.postingsFromText(from, "id", "label"),
      index.postingsFromText(to, "id", "label"), d, 5, 1)(nes.hop(from, to, p))

  /** Both directions of one mapping mode over (id, label) long-form sides,
    * combined as `Pipeline.rawMappings` combines its classifier hop's:
    * each side's WordPiece postings under `vocab` (`Pipeline.sidePostings`
    * over `Pipeline.tokenizerFor`), then per direction `align.direction`
    * with `hop(fromLabels, toLabels)`, `orient` and `combine`. With
    * `vocab = Pipeline.induceCatalogVocab(spark, classes)` and `src`/`tgt`
    * the `sideLabels` of `classes`, the postings are the ones
    * `rawMappings(Params())` builds. */
  def bothDirections(spark: SparkSession, src: DataFrame, tgt: DataFrame,
                     vocab: Set[String], limit: Int = Pipeline.Params().candidateLimit)
                    (hop: (DataFrame, DataFrame) => DataFrame => DataFrame): DataFrame = {
    val p = Pipeline.Params(wordpieceVocab = Some(vocab))
    val tok = Pipeline.tokenizerFor(spark, p)
    val (srcPost, tgtPost) =
      (Pipeline.sidePostings(src, p.tokenCut, tok), Pipeline.sidePostings(tgt, p.tokenCut, tok))
    val (dSrc, dTgt) = align.sideSizes(src, tgt)
    def one(from: DataFrame, to: DataFrame, fromPost: DataFrame, toPost: DataFrame,
            d: Long, fromIsSrc: Boolean) =
      align.orient(align.direction(fromPost, toPost, d, limit, p.nbest)(hop(from, to)), fromIsSrc)
    align.combine(one(src, tgt, srcPost, tgtPost, dTgt, fromIsSrc = true),
      one(tgt, src, tgtPost, srcPost, dSrc, fromIsSrc = false))
  }
}
