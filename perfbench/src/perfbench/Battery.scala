package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/**
 * The operator battery: 21 `SparkEntry.queries` outside the flagship
 * path, run over generated tables shaped like the repo's sf testdata
 * (documents, embeddings, part, orders, nation, region). The tables are a
 * fixed function of `Size`; the workload seed only shuffles query order.
 */
object Battery {

  /** (module, query) — the module names the operator family a query
    * drives. Eleven of the 21 non-flagship queries the full battery would
    * run: at least one per family, chosen to fit a pass in ~10 s on 4 cores
    * (README.md lists the ten left out). */
  val Queries: Seq[(String, String)] = Seq(
    "dedup" -> "q22_lsh_pairs", "dedup" -> "q23_ngram_jaccard",
    "dedup" -> "q27_embed_neardup",
    "similarity" -> "q25_ann_bruteforce", "similarity" -> "q26_ann_ivf",
    "similarity" -> "q66_ivfpq_ann",
    "canonical" -> "q35_connected_components", "hierarchy" -> "q42_depth",
    "quality" -> "q64_decontaminate",
    "index" -> "q04_idf_candidates", "score" -> "q31_scorer_pairs")

  def leaf(module: String, query: String): String = s"$module.$query"

  final case class Size(nDocs: Int, nEmbeddings: Int, nParts: Int, nOrders: Int,
                        warmupPasses: Int)

  def size(smoke: Boolean): Size =
    if (smoke) Size(nDocs = 200, nEmbeddings = 200, nParts = 200, nOrders = 1000, warmupPasses = 1)
    else Size(nDocs = 400, nEmbeddings = 400, nParts = 400, nOrders = 4000, warmupPasses = 1)

  /** Generator seed of the battery tables: fixed, so recorded digests hold. */
  private val TableSeed = 42L

  private def mix(seed: Long, salt: Long): Long = {
    var x = seed * 0x9E3779B97F4A7C15L + salt
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def pick(salt: Long, n: Int): Int = math.floorMod(mix(TableSeed, salt), n.toLong).toInt
  private def unit(salt: Long): Double = (mix(TableSeed, salt) >>> 11).toDouble / (1L << 53)
  private def gauss(salt: Long): Double = // Box-Muller over two uniforms
    math.sqrt(-2 * math.log(1e-12 + unit(salt))) * math.cos(2 * math.Pi * unit(salt ^ 0x5bd1e995L))

  private val Words = Vector("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val Langs = Vector("en", "en", "en", "zh", "es", "fr", "de")
  private val Adjectives = Vector("small", "red", "blue", "large", "green", "steel", "brass", "tiny")
  private val Nouns = Vector("ring", "widget", "bolt", "gear", "valve", "spring", "screw", "nut")
  private val Types = Vector("ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Documents of 10-100 words; one in twenty near-duplicates an earlier
    * document (a shared span with a "dup" marker) so the dedup operators
    * find pairs. */
  private def documents(n: Int): Seq[Row] = {
    val texts = ArrayBuffer.empty[String]
    (0 until n).map { i =>
      val s = 1000003L * i
      val txt =
        if (i > 10 && pick(s + 1, 20) == 0) {
          val src = texts(pick(s + 2, i)).split(" ")
          val cut = pick(s + 3, src.length)
          (src.take(cut) ++ Seq("dup") ++ src.drop(cut)).mkString(" ")
        } else (0 until 10 + pick(s + 4, 91)).map(j => Words(pick(s + 100 + j, Words.size))).mkString(" ")
      texts += txt
      Row(i.toLong, txt, Langs(pick(s + 5, Langs.size)), s"src${pick(s + 6, 20)}", txt.length.toLong)
    }
  }

  /** 64-dim vectors around ten label centroids; one in twenty copies an
    * earlier vector with small noise (near-duplicates). */
  private def embeddings(n: Int): Seq[Row] = {
    val dim = 64
    val centroids = Array.tabulate(10, dim)((c, d) => gauss(7000000L + c * 97L + d))
    val vecs = ArrayBuffer.empty[(Array[Double], Int)]
    (0 until n).map { i =>
      val s = 2000003L * i
      val (v, label) =
        if (i > 10 && pick(s + 1, 20) == 0) {
          val (src, l) = vecs(pick(s + 2, i))
          (Array.tabulate(dim)(d => src(d) + 0.05 * gauss(s + 10 + d)), l)
        } else {
          val l = pick(s + 3, 10)
          (Array.tabulate(dim)(d => 0.6 * centroids(l)(d) + gauss(s + 100 + d)), l)
        }
      vecs += ((v, label))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm * 0.25).toFloat).toSeq, label)
    }
  }

  /** Write the battery tables under `dir`; returns each table's row count. */
  def generate(spark: SparkSession, dir: String, sz: Size): Map[String, Long] = {
    // one plain parquet file per table, as in the sf testdata (DuckDB
    // reads `<table>.parquet` as a file)
    def write(name: String, rows: Seq[Row], schema: StructType): (String, Long) = {
      val tmp = new java.io.File(s"$dir/.$name.tmp")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
      val dest = new java.io.File(s"$dir/$name.parquet")
      FileUtils.deleteQuietly(dest)
      FileUtils.moveFile(part, dest)
      FileUtils.deleteQuietly(tmp)
      name -> rows.size.toLong
    }
    val L = LongType; val S = StringType; val I = IntegerType; val D = DoubleType
    def st(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    Seq(
      write("documents", documents(sz.nDocs),
        st("doc_id" -> L, "text" -> S, "lang" -> S, "source" -> S, "n_chars" -> L)),
      write("embeddings", embeddings(sz.nEmbeddings),
        st("vec_id" -> L, "embedding" -> ArrayType(FloatType), "label" -> I)),
      write("part", (0 until sz.nParts).map { i =>
        val s = 3000017L * i
        Row(i.toLong, s"${Adjectives(pick(s + 1, Adjectives.size))} ${Nouns(pick(s + 2, Nouns.size))}",
          s"Brand#${pick(s + 3, 25)}", Types(pick(s + 4, Types.size)), 1 + pick(s + 5, 50),
          900.0 + (i % 1000) / 10.0)
      }, st("p_partkey" -> L, "p_name" -> S, "p_brand" -> S, "p_type" -> S, "p_size" -> I,
        "p_retailprice" -> D)),
      write("orders", (0 until sz.nOrders).map { i =>
        val s = 4000037L * i
        Row(i.toLong, pick(s + 1, 1500).toLong, Vector("O", "F", "P")(pick(s + 2, 3)),
          pick(s + 3, 50000000) / 100.0, new Timestamp(694224000000L + pick(s + 4, 2400) * 86400000L),
          Priorities(pick(s + 5, Priorities.size)))
      }, st("o_orderkey" -> L, "o_custkey" -> L, "o_orderstatus" -> S, "o_totalprice" -> D,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> S)),
      write("nation", (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
        st("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I)),
      write("region", (0 until 5).map(i => Row(i, s"REGION_$i")),
        st("r_regionkey" -> I, "r_name" -> S))
    ).toMap
  }

  /** Row count and order-free content digest of a query result: the sum
    * of per-row md5 prefixes over every column rendered as a string. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.columns.toSeq.sorted.map(c => coalesce(col(s"`$c`").cast("string"), lit("\u0002")))
    val h = pmod(conv(substring(md5(concat_ws("\u0001", cols: _*)), 1, 15), 16, 10).cast("long"),
      lit(2147483648L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  final case class Run(module: String, query: String, seconds: Double, jobs: Long,
                       rows: Long, hash: Long, error: Option[String])

  /** Run one query to completion (its digest is the action) and time it;
    * its Spark jobs carry the query's leaf name. */
  private def runQuery(spark: SparkSession, dir: String, module: String, query: String,
                       tr: Option[Trace]): Run = {
    spark.catalog.clearCache()
    val name = leaf(module, query)
    def body = digest(SparkEntry.queries(query)(spark, dir))
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val res = try Right(tr match {
      case Some(t) => t.span(name)(body)
      case None =>
        sc.setLocalProperty(Trace.LayerKey, name)
        try body finally sc.setLocalProperty(Trace.LayerKey, null)
    }) catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    res match {
      case Right((rows, hash)) => Run(module, query, secs, 0, rows, hash, None)
      case Left(err)           => Run(module, query, secs, 0, 0, 0, Some(err))
    }
  }

  /** One pass over `order`. Job counts come from the listener, read once
    * the pass has ended. */
  def pass(spark: SparkSession, dir: String, order: Seq[(String, String)],
           counters: LayerCounters, tr: Option[Trace]): Seq[Run] = {
    counters.drain()
    val c0 = counters.snapshot
    val runs = order.map { case (m, q) => runQuery(spark, dir, m, q, tr) }
    counters.drain()
    val c1 = counters.snapshot
    runs.map { r =>
      val n = leaf(r.module, r.query)
      val jobs = c1.getOrElse(n, Counts.zero).jobs - c0.getOrElse(n, Counts.zero).jobs
      System.err.println(f"[perfbench] ${r.query}%-26s ${r.seconds}%7.3f s  jobs=$jobs" +
        r.error.fold("")(e => s"  FAILED $e"))
      r.copy(jobs = jobs)
    }
  }

  /** The seed's query order: a deterministic shuffle of `Queries`. */
  def order(seed: Long): Seq[(String, String)] =
    Queries.zipWithIndex.sortBy { case (_, i) => mix(seed, i.toLong) }.map(_._1)

  /** Recorded (rows, digest) per query, read from a `query<TAB>rows<TAB>digest` file. */
  def readGolden(path: String): Map[String, (Long, Long)] = {
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, rows, hash) = l.split("\t")
        q -> (rows.toLong, hash.toLong)
      }.toMap
      finally src.close()
    }
  }

  /** A run passes when it did not fail and its rows and digest equal the
    * recorded ones. */
  def check(r: Run, golden: Map[String, (Long, Long)]): Boolean =
    r.error.isEmpty && golden.get(r.query).contains((r.rows, r.hash))
}
