package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.fixtures

/**
 * Benchmark harness for graft. One process, `local[nproc]`, one client in
 * a closed loop: the next rep starts only after the previous one has
 * finished and its output has been checked.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *                  --t0-ms EPOCH_MS --work DIR --out RESULT.json
 *                  [--golden FILE] [--smoke] [--record DIR]
 *
 * `run.py` builds and launches it; see README.md.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        t0Ms: Long, work: String, out: String, golden: String,
                        smoke: Boolean, record: Option[String], meta: Map[String, String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", kv.get("--t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      get("--work"), get("--out"), kv.getOrElse("--golden", ""), argv.contains("--smoke"),
      kv.get("--record"),
      kv.collect { case (k, v) if k.startsWith("--meta-") => k.stripPrefix("--meta-") -> v })
  }

  val Workloads: Seq[String] = Seq("transcripts_large", "catalog_large", "operator_battery")

  /** Heap and off-heap sizes for this host (the repo's 48 g / 24 g
    * defaults assume a 32-core box). The heap is set by run.py. */
  def offHeapMb: Long = math.max(512L, math.min(4096L, memTotalMb / 8))

  def memTotalMb: Long = procField("/proc/meminfo", "MemTotal").getOrElse(0L) / 1024

  /** A `kB` field of a /proc status-style file. */
  def procField(path: String, field: String): Option[Long] = try {
    val lines = Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8)
    (0 until lines.size).map(lines.get).find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong)
  } catch { case _: Exception => None }

  def session(a: Args, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", s"${offHeapMb}m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** What one run measured. `metrics` are (name, value, unit). */
  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                           metrics: Seq[(String, Double, String)],
                           detail: Seq[(String, Any)])

  final class Ctx(val a: Args, val spark: SparkSession, val counters: LayerCounters) {
    def dir(name: String): String = { val d = s"${a.work}/$name"; new File(d).mkdirs(); d }
    def elapsedSinceLaunch: Double = (System.currentTimeMillis() - a.t0Ms) / 1e3
    /** Seconds since launch at which each named set-up step ended. */
    val marks = ArrayBuffer.empty[(String, Double)]
    def mark(step: String): Unit = {
      marks += step -> elapsedSinceLaunch
      System.err.println(f"[perfbench] t+${elapsedSinceLaunch}%7.2f s  $step")
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def peakRssMb: Double = procField("/proc/self/status", "VmHWM").getOrElse(0L) / 1024.0

  /** Timed reps: at least `minReps`, then more until `seconds` have passed. */
  def timedLoop(seconds: Double, minReps: Int, maxReps: Int)(rep: Int => Unit): Double = {
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while (i < maxReps && (i < minReps || elapsed < seconds)) { rep(i); i += 1 }
    elapsed
  }

  // ---------------------------------------------------------------- flagship

  /** Digest of the triples a seed produced, kept in the work directory so
    * every later run with the seed (traced or not) must reproduce it. */
  def digestStore(ctx: Ctx, cfg: fixtures.Config, tag: String): File =
    new File(ctx.dir("digests"), s"$tag-c${cfg.nConcepts}-v${cfg.nConvs}-s${cfg.seed}.txt")

  final class DigestCheck(store: File) {
    private var expected: Option[String] =
      if (store.isFile) Some(new String(Files.readAllBytes(store.toPath), StandardCharsets.UTF_8).trim)
      else None
    val seen = ArrayBuffer.empty[String]

    def apply(d: Flagship.Digest): Boolean = {
      seen += d.key
      expected match {
        case None =>
          expected = Some(d.key)
          Files.write(store.toPath, d.key.getBytes(StandardCharsets.UTF_8))
          d.nTriples > 0
        case Some(e) => e == d.key && d.nTriples > 0
      }
    }
    def value: String = expected.getOrElse("")
  }

  def flagshipConfig(a: Args): fixtures.Config = {
    val sz = Flagship.size(a.workload, a.smoke)
    fixtures.Config(nConcepts = sz.nConcepts, nConvs = sz.nConvs, seed = a.seed)
  }

  def prfOk(p: graft.operators.evalmod.PRF): Boolean = p.p >= 0.95 && p.r >= 0.95

  def flagshipTimed(ctx: Ctx): Outcome = {
    val a = ctx.a
    val spark = ctx.spark
    val sz = Flagship.size(a.workload, a.smoke)
    val cfg = flagshipConfig(a)
    ctx.mark("session")
    val in = Flagship.prepare(spark, cfg, ctx.dir("input"))
    ctx.mark("inputs")
    val out = s"${ctx.dir("output")}/triples"
    val check = new DigestCheck(digestStore(ctx, cfg, a.workload))
    var warmFailed = 0
    var lastMappings: org.apache.spark.sql.DataFrame = null
    var lastDigest: Flagship.Digest = null
    def verify(m: org.apache.spark.sql.DataFrame): Boolean = {
      lastDigest = Flagship.digest(spark, out)
      lastMappings = m
      check(lastDigest)
    }
    for (_ <- 0 until sz.warmup) {
      val (_, m) = Flagship.rep(spark, in, out)
      if (!verify(m)) warmFailed += 1
    }
    ctx.mark("warm-up")
    val setup = ctx.elapsedSinceLaunch

    val walls, jobs = ArrayBuffer.empty[Double]
    var failed = 0
    val measured = timedLoop(a.seconds, minReps = 3, maxReps = 100) { _ =>
      ctx.counters.drain()
      val j0 = ctx.counters.jobsStarted
      val (wall, m) = try Flagship.rep(spark, in, out)
        catch { case e: Exception => System.err.println(s"[perfbench] rep failed: $e"); (Double.NaN, null) }
      ctx.counters.drain()
      jobs += (ctx.counters.jobsStarted - j0).toDouble
      if (m == null || !verify(m)) failed += 1
      else walls += wall
      ctx.mark(f"rep $wall%.3f s")
    }
    // mapping quality, untimed; every rep's triples (sameAs edges included)
    // carry the same digest, so one evaluation covers them all
    val prf = Flagship.prf(spark, cfg, lastMappings)
    ctx.mark("checks")
    val wall = median(walls.toSeq)
    val attempted = jobs.size
    Outcome(
      correct = warmFailed == 0 && failed == 0 && prfOk(prf),
      attempted = attempted, failed = failed,
      metrics = Seq(
        ("setup_s", setup, "s"),
        ("wall_s", wall, "s"),
        ("turns_per_s", in.nTurns / wall, "turns/s"),
        ("triples_per_s", lastDigest.nTriples / wall, "triples/s"),
        ("query_geomean_s", geomean(Seq(wall)), "s"),
        ("peak_rss_mb", peakRssMb, "MB")),
      detail = Seq(
        "error_rate" -> failed.toDouble / attempted,
        "wall_samples_s" -> walls.toSeq,
        "jobs_per_rep" -> jobs.toSeq,
        "measured_s" -> measured,
        "warmup_reps" -> sz.warmup,
        "setup_steps_s" -> ctx.marks.toSeq,
        "warmup_failed" -> warmFailed,
        "triples_digest" -> check.value,
        "digests_seen" -> check.seen.distinct.toSeq,
        "mapping_precision" -> prf.p, "mapping_recall" -> prf.r,
        "inputs" -> inputsOf(in)))
  }

  def inputsOf(in: Flagship.Inputs): Seq[(String, Any)] = Seq(
    "n_concepts" -> in.cfg.nConcepts, "n_conversations" -> in.cfg.nConvs,
    "n_turns" -> in.nTurns, "n_classes" -> in.nClasses, "fixture_seed" -> in.cfg.seed)

  /** Traced flagship reps: per-layer seconds and Spark counters (medians
    * over reps), plus the layer-boundary counts. Also checks the traced
    * triples against an untraced rep's. */
  def flagshipLayers(ctx: Ctx, cfg: fixtures.Config, seconds: Double, tag: String,
                     store: File): (Boolean, Seq[(String, Double, String)], Seq[(String, Any)]) = {
    val spark = ctx.spark
    val in = Flagship.prepare(spark, cfg, ctx.dir(s"input-$tag"))
    val out = s"${ctx.dir(s"output-$tag")}/triples"
    val check = new DigestCheck(store)
    Flagship.rep(spark, in, out) // untraced reference rep (also warms the JIT)
    val untraced = Flagship.digest(spark, out)
    var ok = check(untraced)

    val tr = new Trace(spark.sparkContext)
    val perRep = ArrayBuffer.empty[Map[String, (Double, Counts)]]
    val stats = ArrayBuffer.empty[Flagship.LayerStats]
    val attributed = ArrayBuffer.empty[Double]
    var mappings: org.apache.spark.sql.DataFrame = null
    timedLoop(seconds, minReps = 1, maxReps = 20) { _ =>
      ctx.counters.drain()
      val c0 = ctx.counters.snapshot
      val from = tr.size
      val (m, st) = Flagship.tracedRep(spark, in, out, tr)
      ctx.counters.drain()
      val c1 = ctx.counters.snapshot
      val spans = tr.since(from)
      val root = spans.find(_.name == "rep").get
      val layers = spans.filter(_.parent == root.id)
      attributed += layers.map(_.seconds).sum / root.seconds
      perRep += Flagship.Layers.map { l =>
        l -> (layers.filter(_.name == l).map(_.seconds).sum,
          c1.getOrElse(l, Counts.zero) - c0.getOrElse(l, Counts.zero))
      }.toMap
      stats += st
      val d = Flagship.digest(spark, out)
      ok &= check(d) && d == untraced
      mappings = m
    }
    val prf = Flagship.prf(spark, cfg, mappings)
    ok &= prfOk(prf)
    def med(f: Map[String, (Double, Counts)] => Double) = median(perRep.map(f).toSeq)
    def medStat(f: Flagship.LayerStats => Double) = median(stats.map(f).toSeq)
    val metrics = Flagship.Layers.flatMap { l =>
      Seq((s"${l}_s", med(_(l)._1), "s"),
        (s"$l.jobs", med(_(l)._2.jobs.toDouble), "count"),
        (s"$l.tasks", med(_(l)._2.tasks.toDouble), "count"),
        (s"$l.shuffle_mb", med(_(l)._2.shuffleBytes / 1e6), "MB"),
        (s"$l.cpu_s", med(_(l)._2.cpuNs / 1e9), "s"),
        (s"$l.gc_s", med(_(l)._2.gcMs / 1e3), "s"))
    } ++ Seq(
      ("mentions.rows", medStat(_.mentionRows.toDouble), "count"),
      ("index.candidate_pairs", medStat(_.candidatePairs.toDouble), "count"),
      ("score.label_pairs", medStat(_.labelPairs.toDouble), "count"),
      ("score.string_match_frac", medStat(s => s.exactPairs.toDouble / s.scoredPairs), "fraction"),
      ("align.kept_frac", medStat(s => s.keptPairs.toDouble / s.scoredPairs), "fraction"),
      ("repair.dropped_frac", medStat(s => 1.0 - s.repaired.toDouble / s.extended), "fraction"))
    val spans = tr.all.map(s => Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> (s.startNs - tr.all.head.startNs) / 1e6, "dur_ms" -> (s.endNs - s.startNs) / 1e6))
    (ok, metrics, Seq(
      s"$tag.traced_reps" -> perRep.size,
      s"$tag.attributed_frac" -> attributed.toSeq,
      s"$tag.untraced_digest" -> untraced.key,
      s"$tag.traced_digests" -> check.seen.distinct.toSeq,
      s"$tag.mapping_precision" -> prf.p, s"$tag.mapping_recall" -> prf.r,
      s"$tag.inputs" -> inputsOf(in),
      s"$tag.spans" -> spans))
  }

  // ----------------------------------------------------------------- battery

  def batteryInputs(ctx: Ctx): (String, Map[String, Long]) = {
    val dir = ctx.dir("battery")
    (dir, Battery.generate(ctx.spark, dir, Battery.size(ctx.a.smoke)))
  }

  def batteryGolden(ctx: Ctx): Map[String, (Long, Long)] = {
    val g = Battery.readGolden(ctx.a.golden)
    require(g.nonEmpty, s"no recorded battery digests at '${ctx.a.golden}'")
    g
  }

  def runDetail(r: Battery.Run): Seq[(String, Any)] = Seq("query" -> r.query,
    "s" -> r.seconds, "jobs" -> r.jobs, "rows" -> r.rows, "digest" -> r.hash,
    "error" -> r.error.orNull)

  def batteryTimed(ctx: Ctx): Outcome = {
    ctx.mark("session")
    val (dir, sizes) = batteryInputs(ctx)
    ctx.mark("inputs")
    val golden = batteryGolden(ctx)
    val order = Battery.order(ctx.a.seed)
    def pass(): Seq[Battery.Run] = Battery.pass(ctx.spark, dir, order, ctx.counters, None)
    val warm = (0 until Battery.size(ctx.a.smoke).warmupPasses).flatMap(_ => pass())
    val warmFailed = warm.count(r => !Battery.check(r, golden))
    ctx.mark("warm-up")
    val setup = ctx.elapsedSinceLaunch

    val passes = ArrayBuffer.empty[Seq[Battery.Run]]
    timedLoop(ctx.a.seconds, minReps = 2, maxReps = 100) { _ => passes += pass() }
    val runs = passes.flatten.toSeq
    val failedRuns = runs.filterNot(Battery.check(_, golden))
    val walls = passes.map(_.map(_.seconds).sum).toSeq
    val wall = median(walls)
    val perQuery = runs.groupBy(_.query).map { case (q, rs) => q -> median(rs.map(_.seconds)) }
    val resultRows = passes.head.map(_.rows).sum
    val inputRows = sizes.values.sum
    Outcome(
      correct = warmFailed == 0 && failedRuns.isEmpty && perQuery.size == Battery.Queries.size,
      attempted = runs.size, failed = failedRuns.size,
      metrics = Seq(
        ("setup_s", setup, "s"),
        ("wall_s", wall, "s"),
        ("turns_per_s", inputRows / wall, "turns/s"),
        ("triples_per_s", resultRows / wall, "triples/s"),
        ("query_geomean_s", geomean(perQuery.values.toSeq), "s"),
        ("peak_rss_mb", peakRssMb, "MB")),
      detail = Seq(
        "error_rate" -> failedRuns.size.toDouble / runs.size,
        "pass_samples_s" -> walls,
        "query_median_s" -> Battery.Queries.map { case (_, q) => q -> perQuery(q) },
        "query_order" -> order.map(_._2),
        "warmup_passes" -> Battery.size(ctx.a.smoke).warmupPasses,
        "setup_steps_s" -> ctx.marks.toSeq,
        "warmup_failed" -> warmFailed,
        "failed_runs" -> failedRuns.map(runDetail),
        "last_pass" -> passes.last.map(runDetail),
        "inputs" -> sizes.toSeq.sorted, "input_rows" -> inputRows,
        "result_rows_per_pass" -> resultRows))
  }

  /** Traced battery passes: per-query seconds and jobs (medians over
    * passes), after one untraced pass when `warm`. */
  def batteryLayers(ctx: Ctx, seconds: Double, warm: Boolean)
      : (Boolean, Seq[(String, Double, String)], Seq[(String, Any)]) = {
    val (dir, sizes) = batteryInputs(ctx)
    val golden = batteryGolden(ctx)
    val order = Battery.order(ctx.a.seed)
    val warmRuns = if (warm) Battery.pass(ctx.spark, dir, order, ctx.counters, None) else Nil
    val tr = new Trace(ctx.spark.sparkContext)
    val passes = ArrayBuffer.empty[Seq[Battery.Run]]
    timedLoop(seconds, minReps = 1, maxReps = 100) { _ =>
      passes += Battery.pass(ctx.spark, dir, order, ctx.counters, Some(tr))
    }
    val runs = passes.flatten.toSeq
    val ok = (warmRuns ++ runs).forall(Battery.check(_, golden))
    val metrics = Battery.Queries.flatMap { case (m, q) =>
      val rs = runs.filter(_.query == q)
      Seq((s"${Battery.leaf(m, q)}_s", median(rs.map(_.seconds)), "s"),
        (s"${Battery.leaf(m, q)}.jobs", median(rs.map(_.jobs.toDouble)), "count"))
    }
    (ok, metrics, Seq("battery.traced_passes" -> passes.size,
      "battery.warm" -> warm,
      "battery.failed_runs" -> (warmRuns ++ runs).filterNot(Battery.check(_, golden)).map(runDetail),
      "battery.inputs" -> sizes.toSeq.sorted))
  }

  /** Companion input for the flagship layers on the battery workload. */
  def companionFlagship(a: Args): fixtures.Config =
    if (a.smoke) fixtures.Config(nConcepts = 100, nConvs = 400, seed = a.seed)
    else fixtures.Config(nConcepts = 500, nConvs = 2000, seed = a.seed)

  /**
   * A traced run reports every per-layer metric: the workload's own layers,
   * traced for half of `--seconds` after an untraced rep or pass, then the
   * other family's layers once, cold, on a companion input (the battery
   * tables, or a small flagship fixture), so each name is measured on every
   * workload.
   */
  def traced(ctx: Ctx): Outcome = {
    val a = ctx.a
    val half = a.seconds / 2
    val parts =
      if (a.workload == "operator_battery") {
        val cfg = companionFlagship(a)
        Seq(batteryLayers(ctx, half, warm = true),
          flagshipLayers(ctx, cfg, 0, "companion", digestStore(ctx, cfg, "companion")))
      } else {
        val cfg = flagshipConfig(a)
        Seq(flagshipLayers(ctx, cfg, half, "flagship", digestStore(ctx, cfg, a.workload)),
          batteryLayers(ctx, 0, warm = false))
      }
    val failed = parts.count(!_._1)
    Outcome(failed == 0, attempted = parts.size, failed = failed,
      metrics = parts.flatMap(_._2), detail = parts.flatMap(_._3))
  }

  // ------------------------------------------------------------------ record

  /** Write the battery's tables and Verify-format outputs (one parquet dir
    * per query, oracle_sql.json, _queries.json) for tools/crosscheck.py,
    * and the digests this harness computes, as `golden.tsv`. */
  def record(ctx: Ctx, dir: String): Unit = {
    val data = s"$dir/data"
    new File(data).mkdirs()
    Battery.generate(ctx.spark, data, Battery.size(ctx.a.smoke))
    val verify = s"$dir/verify"
    new File(verify).mkdirs()
    val lines = Battery.Queries.map { case (_, q) =>
      val df = SparkEntry.queries(q)(ctx.spark, data)
      df.coalesce(1).write.mode("overwrite").parquet(s"$verify/$q")
      val (rows, hash) = Battery.digest(ctx.spark.read.parquet(s"$verify/$q"))
      val (rows2, hash2) = Battery.digest(SparkEntry.queries(q)(ctx.spark, data))
      require(rows == rows2 && hash == hash2, s"$q: written and recomputed digests differ")
      s"$q\t$rows\t$hash"
    }
    val names = Battery.Queries.map(_._2)
    Files.writeString(Paths.get(s"$verify/oracle_sql.json"), Json.render(
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }.toSeq.sortBy(_._1)))
    Files.writeString(Paths.get(s"$verify/_queries.json"), Json.render(names.sorted))
    Files.writeString(Paths.get(s"$dir/golden.tsv"), lines.mkString("", "\n", "\n"))
  }

  // -------------------------------------------------------------------- main

  def hostInfo(ctx: Ctx): Seq[(String, Any)] = {
    val rt = Runtime.getRuntime
    val conf = ctx.spark.conf
    Seq(
      "host" -> Seq(
        "nproc" -> rt.availableProcessors(),
        "mem_total_mb" -> memTotalMb,
        "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}"),
      "settings" -> Seq(
        "master" -> ctx.spark.sparkContext.master,
        "heap_max_mb" -> rt.maxMemory() / (1024 * 1024),
        "off_heap" -> conf.get("spark.memory.offHeap.size"),
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> ctx.spark.version,
        "scala" -> scala.util.Properties.versionNumberString),
      "run" -> (Seq("workload" -> ctx.a.workload, "seed" -> ctx.a.seed,
        "seconds" -> ctx.a.seconds, "trace" -> ctx.a.trace, "smoke" -> ctx.a.smoke) ++
        ctx.a.meta.toSeq.sorted))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload) || a.record.nonEmpty,
      s"unknown workload '${a.workload}' (${Workloads.mkString(" | ")})")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(a, cpus)
    val counters = new LayerCounters
    spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(a, spark, counters)
    try a.record match {
      case Some(dir) => record(ctx, dir)
      case None =>
        val o =
          if (a.trace) traced(ctx)
          else if (a.workload == "operator_battery") batteryTimed(ctx)
          else flagshipTimed(ctx)
        val res = Seq(
          "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
          "metrics" -> o.metrics.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) }) ++
          hostInfo(ctx) ++ Seq("detail" -> o.detail)
        Files.writeString(Paths.get(a.out), Json.render(res) + "\n")
    } finally spark.stop()
  }
}

/** Minimal JSON rendering for result files: Seq of pairs render as objects. */
object Json {
  def render(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                => n.toString
    case n: Long               => n.toString
    case s: Seq[_] if s.nonEmpty && s.forall {
      case (_: String, _) => true
      case _              => false
    } => s.map { case (k: String, x) => s"${quote(k)}: ${render(x)}" }.mkString("{", ", ", "}")
    case s: Seq[_]             => s.map(render).mkString("[", ", ", "]")
    case other                 => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
