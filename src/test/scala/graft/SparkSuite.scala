package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{align, index, nes, score}

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
}
