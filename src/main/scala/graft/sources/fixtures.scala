package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._

/**
 * Deterministic synthetic fixtures (FIXTURES.md): a transcript corpus plus a
 * two-sided entity catalog generated from a shared latent-concept list, so
 * reference alignments are known by construction. No external data; all
 * randomness is per-row seeded (hash of ids), so output is identical at any
 * partition count — the determinism-under-parallelism invariant from
 * BASELINE.json.
 *
 * Shapes mirror what the reference consumes: classtexts with multi-label
 * bags (/root/reference/bertmap/onto/onto_text.py:72-85), is-a edge lists
 * (onto_box.py:154-161), reference mapping TSVs (onto_map.py:144-146).
 */
object fixtures {

  final case class Config(nConcepts: Int = 100, nConvs: Int = 40, seed: Long = 42L)

  private val MaxTurns = 8
  private val HotFrac = 0.01         // 1% of entities ...
  private val HotMass = 0.30         // ... own 30% of mentions (skew)
  private val SharedLabelFrac = 0.7  // concepts whose src/tgt share one exact label
  private val Branching = 4          // hierarchy fan-in

  val tiny: Config = Config()
  def bench(nConvs: Int = 200000): Config = Config(nConcepts = 2000, nConvs = nConvs)

  // -- deterministic word material ------------------------------------------

  private val Syllables = Vector(
    "ka", "ro", "mi", "ta", "zen", "lor", "vex", "dun", "pol", "sar",
    "nim", "bel", "tor", "qua", "fen", "gil", "hax", "jor", "kel", "mer")

  private def mix(seed: Long, salt: Long): Long = {
    var x = seed * 0x9E3779B97F4A7C15L + salt
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def pick(seed: Long, salt: Long, n: Int): Int =
    (math.floorMod(mix(seed, salt), n.toLong)).toInt

  /** Base name of concept i: 2-3 syllable word + qualifier word. */
  def conceptName(cfg: Config, i: Int): String = {
    val s = mix(cfg.seed, i.toLong)
    val n = 2 + pick(s, 1, 2)
    val word = (0 until n).map(j => Syllables(pick(s, 10 + j, Syllables.size))).mkString
    val qual = Syllables(pick(s, 99, Syllables.size)) + Syllables(pick(s, 98, Syllables.size))
    s"$word $qual"
  }

  /** Label variants of concept i on side `onto`. Sides share the base label
    * for `SharedLabelFrac` of concepts; otherwise the tgt side only carries
    * morphological variants (suffix/prefix tweaks) — this controls the
    * string-match vs scorer-path split. */
  def labelsFor(cfg: Config, i: Int, onto: String): Seq[String] = {
    val base = conceptName(cfg, i)
    val s = mix(cfg.seed, i.toLong * 7919 + (if (onto == "src") 1 else 2))
    val shared = pick(mix(cfg.seed, i.toLong * 104729), 3, 1000) < (SharedLabelFrac * 1000).toInt
    val variants = scala.collection.mutable.ArrayBuffer[String]()
    if (onto == "src" || shared) variants += base
    if (onto == "src") {
      variants += s"$base type ${Syllables(pick(s, 5, Syllables.size))}"
    } else {
      variants += s"$base form"          // near-variant: high jaccard/edit sim
      if (!shared) variants += s"the $base"
    }
    if (pick(s, 6, 2) == 1) variants += base.split(" ").reverse.mkString(" ")
    variants.distinct.toSeq
  }

  // -- catalogs ---------------------------------------------------------------

  def iri(onto: String, i: Int): String = f"$onto%s:C$i%05d"

  def classes(spark: SparkSession, cfg: Config): Dataset[ClassText] = {
    import spark.implicits._
    spark.range(cfg.nConcepts.toLong).flatMap { i0 =>
      val i = i0.toInt
      Seq("src", "tgt").map { onto =>
        ClassText(onto, iri(onto, i), i.toLong, labelsFor(cfg, i, onto))
      }
    }
  }

  /** DAG edges: concept i's parent is i/Branching (both sides share
    * topology; roots at index 0..Branching-1 have no parent). */
  def edges(spark: SparkSession, cfg: Config): Dataset[Edge] = {
    import spark.implicits._
    spark.range(cfg.nConcepts.toLong).flatMap { i0 =>
      val i = i0.toInt
      if (i < Branching) Seq.empty[Edge]
      else Seq("src", "tgt").map(o => Edge(o, iri(o, i), iri(o, i / Branching)))
    }
  }

  /** Golden alignments: concept i on both sides. 10% marked ignored
    * (FIXTURES.md §3). */
  def refMappings(spark: SparkSession, cfg: Config): DataFrame = {
    import spark.implicits._
    spark.range(cfg.nConcepts.toLong).map { i0 =>
      val i = i0.toInt
      val ignored = pick(mix(cfg.seed, 31L * i + 7), 0, 10) == 0
      (iri("src", i), iri("tgt", i), 1.0, ignored)
    }.toDF("entity1", "entity2", "value", "is_ignored")
  }

  // -- transcripts -------------------------------------------------------------

  private val Tools = Vector("search", "calc", "browse", "code", "db", "mail", "plan", "none")
  private val Templates = Vector(
    "tell me about %s please",
    "the %s relates to %s in this context",
    "looking up %s now",
    "result for %s shows a link to %s",
    "summary of %s complete")

  /** Pick a concept index with the configured hot/cold skew. */
  def sampleConcept(cfg: Config, s: Long): Int = {
    val nHot = math.max(1, (cfg.nConcepts * HotFrac).toInt)
    if (pick(s, 41, 1000) < (HotMass * 1000).toInt) pick(s, 42, nHot)
    else pick(s, 43, cfg.nConcepts)
  }

  /** The surface form used when concept i is mentioned in text: its side-
    * `src` base label (mention detection then links text → src catalog). */
  def surfaceFor(cfg: Config, i: Int): String = conceptName(cfg, i)

  def transcripts(spark: SparkSession, cfg: Config): Dataset[Turn] = {
    import spark.implicits._
    val baseTs = 1700000000000L // fixed epoch base (no Date.now — determinism)
    spark.range(cfg.nConvs.toLong).flatMap { c =>
      val convSeed = mix(cfg.seed, 0xC0FFEEL + c)
      val nTurns = 2 + pick(convSeed, 1, MaxTurns - 1)
      (0 until nTurns).map { t =>
        val ts = mix(convSeed, 100L + t)
        val role = Vector("user", "assistant", "tool")(t % 3)
        val tmpl = Templates(pick(ts, 2, Templates.size))
        val c1 = surfaceFor(cfg, sampleConcept(cfg, mix(ts, 3)))
        val c2 = surfaceFor(cfg, sampleConcept(cfg, mix(ts, 4)))
        val txt =
          if (tmpl.count(_ == '%') == 2) tmpl.format(c1, c2) else tmpl.format(c1)
        val tool = if (role == "tool") Tools(pick(ts, 5, Tools.size)) else null
        // UUID-shaped conv id (high-entropy prefix, like real session ids):
        // a shared low-entropy prefix ("conv-000…") would defeat the sort-
        // prefix comparison every (conv_id, …)-keyed sort/window relies on
        // and misrepresent the real workload's sort cost
        Turn(f"$convSeed%016x-$c%x", t, role, txt, tool,
          new Timestamp(baseTs + c * 86400L + t * 60000L))
      }
    }
  }
}
