package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.{route, stage}

/**
 * Similarity search over an embedding column (array<float>) — approximate
 * nearest neighbors for training-data pipelines.
 *
 * Baseline: brute-force cosine top-k (query-side bounded; candidate side
 * scanned once, the dot product stays inside whole-stage codegen via
 * higher-order functions — no UDF).
 * Scale path: IVF — a small centroid table is broadcast, every vector is
 * assigned to its nearest centroid once (one pass), and a query probes only
 * the `nProbe` nearest cells, turning the O(Q×N) scan into O(Q×N×nProbe/C).
 */
object similarity {

  /** Cast array<float> → array<double> so arithmetic is float64 end-to-end
    * (matches DuckDB's DOUBLE[] oracle bit-for-bit under sequential folds). */
  def toDoubleArray(c: Column): Column = transform(c, x => x.cast("double"))

  /** Sequential-fold dot product via zip_with + aggregate (codegen'd). */
  def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def normCol(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  def cosineCol(a: Column, b: Column): Column =
    dotCol(a, b) / (normCol(a) * normCol(b))

  /**
   * Brute-force cosine top-k: for each query vector, the k nearest
   * candidates. `queries`/`candidates` must carry (idCol, vecCol).
   * The query side is broadcast (callers bound it); a query never matches
   * itself; ties broken on candidate id ascending for determinism.
   */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    // r7: norms precomputed once per ROW on each side — higher-order
    // functions evaluate interpreted, so cosineCol's three array passes
    // per PAIR (dot + both norms) were 3× the necessary work; dot/(nq·nc)
    // is the identical expression grouping, so the doubles are unchanged
    val q = queries.select(col(idCol).as("query_id"), toDoubleArray(col(vecCol)).as("qv"))
      .withColumn("qn", normCol(col("qv")))
    val c = candidates.select(col(idCol).as("cand_id"), toDoubleArray(col(vecCol)).as("cv"))
      .withColumn("cn", normCol(col("cv")))
    val joined = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cosine", dotCol(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("cand_id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cosine", "rank")
  }

  /** Centroid tables small enough to inline as a plan literal (see
    * `nearestCellExpr`): ~4k cells × 64 dims ≈ 2 MB of literal — cheap to
    * analyze/ship; past this the broadcast-join assignment path is the
    * right shape (a multi-MB literal bloats every task closure). */
  val maxLiteralCentroids = 4096

  /** Expression-form argmax over an inlined centroid matrix: appends
    * `outCol` = the 0-based INDEX (in matrix order) of the centroid with
    * the greatest cosine to the row's double-array column `vdCol`, ties on
    * the SMALLEST index — exactly the `row_number over (sim desc, cell
    * asc)` rule when the matrix is sorted by ascending cell id.
    *
    * This replaces a crossJoin(k rows per vector) + full-table window
    * (one exchange + sort of the WHOLE vector table keyed by id) with a
    * zero-shuffle pair of projections — no shuffle at all (guide §2.4).
    *
    * Arithmetic is bit-identical to the old per-(row, cell) cosine but
    * restructured for cost — higher-order functions evaluate INTERPRETED
    * (outside whole-stage codegen), so redundant traversals are real CPU:
    *  - ‖v‖ is computed ONCE per row (`_vn` in its own projection; the
    *    old shape recomputed it per cell) — same expression, same value;
    *  - ‖c_i‖ is precomputed on the DRIVER with the identical left fold
    *    (acc + x·x in element order, then sqrt) — same IEEE ops sequence
    *    ⇒ same bits as the normCol expression;
    *  - the k sims land in a `_sims` column in a separate projection, so
    *    array_max + array_position read it without re-evaluating it
    *    (CollapseProject keeps non-cheap aliases un-inlined);
    *  - sim_i = dot(v, c_i) / (‖v‖·‖c_i‖), the exact old grouping.
    * array_max's ordering = the window sort's (NaN greatest, nulls
    * ignored); array_position's equality is Spark's NaN-safe `=` (NaN =
    * NaN true, -0.0 = 0.0 true), returning the FIRST matching index = the
    * smallest cell. The coalesce covers the all-null sims row (null
    * vector): the window's nulls-last ordering picked the first cell
    * there too. `guarded` selects the fixed-point cosine zero-denominator rule
    * (den = 0 scores 0.0, never NaN). */
  private def withNearestIdx(df: DataFrame, vdCol: String,
                             matD: Seq[Seq[Double]], guarded: Boolean,
                             outCol: String): DataFrame = {
    val n = matD.size
    val matLit = typedLit(matD)
    val cnLit = typedLit(matD.map(c =>
      math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x))))
    df.withColumn("_vn", normCol(col(vdCol)))
      .withColumn("_sims", transform(sequence(lit(0), lit(n - 1)), i => {
        val dot = dotCol(col(vdCol), element_at(matLit, (i + 1).cast("int")))
        val den = col("_vn") * element_at(cnLit, (i + 1).cast("int"))
        if (guarded) when(den === 0.0, lit(0.0)).otherwise(dot / den)
        else dot / den
      }))
      .withColumn(outCol,
        coalesce(array_position(col("_sims"), array_max(col("_sims")))
          .cast("int") - 1, lit(0)))
      .drop("_vn", "_sims")
  }

  /** A centroid table on the driver, sorted by ascending cell id:
    * Some(cell ids, matrix) when the route admits it (at most
    * `maxLiteralCentroids` rows, integral cells, no null cell), else None
    * and the caller takes the broadcast path. Integral cells are read as
    * they are, so the literal path orders the ids the broadcast window
    * orders; string, decimal and null cells keep the window's own order. */
  private def collectCentroids(centroids: DataFrame)
      : Option[(Seq[Long], Seq[Seq[Double]])] =
    route.local(centroids.select(col("cell"), toDoubleArray(col("cvec")).as("cv")),
        maxLiteralCentroids, "assignCells literal", Seq("cell"), route.Integral)
      .map { rows =>
        val sorted = rows.toSeq.map(r => (r.getAs[Number](0).longValue, r.getSeq[Double](1)))
          .sortBy(_._1)
        (sorted.map(_._1), sorted.map(_._2))
      }

  /** Assign each vector to its nearest centroid (IVF cell). Returns
    * input + (cell).
    *
    * Plan shape: ONE zero-shuffle projection — the centroid matrix is
    * collected once through the route and inlined as a literal, and the
    * per-row nearest cell is `withNearestIdx`. `assignCellsBroadcast`
    * (crossJoin + id-keyed window) shuffles and sorts the whole vector
    * table by id to pick a per-row argmax; at 10^10 vectors that exchange
    * dominates IVF assignment. Same per-pair cosine arithmetic, same
    * (sim desc, cell asc) tie-break — results are bit-identical
    * (DedupSimSpec + q26/q57/q75 oracles). Centroid tables the route
    * declines (past `maxLiteralCentroids`, where a literal would bloat
    * every task closure, or with non-integral or null cells) take
    * `assignCellsBroadcast`. */
  def assignCells(vectors: DataFrame, centroids: DataFrame,
                  idCol: String, vecCol: String): DataFrame =
    collectCentroids(centroids) match {
      case Some((cells, mat)) =>
        val cellType = centroids.schema("cell").dataType
        val v = vectors.select(col(idCol).as("id"), toDoubleArray(col(vecCol)).as("v"))
        if (cells.isEmpty)
          v.filter(lit(false)).withColumn("cell", lit(null).cast(cellType))
            .select("id", "v", "cell")
        else
          withNearestIdx(v, "v", mat, guarded = false, "_ix")
            .withColumn("cell",
              element_at(typedLit(cells), (col("_ix") + 1).cast("int")).cast(cellType))
            .select("id", "v", "cell")
      case None =>
        assignCellsBroadcast(vectors, centroids, idCol, vecCol)
    }

  /** The broadcast assignment plan (crossJoin broadcast + id-keyed
    * window): the fallback for centroid tables the literal path declines.
    * Bit-identical results to `assignCells`. */
  def assignCellsBroadcast(vectors: DataFrame, centroids: DataFrame,
                           idCol: String, vecCol: String): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), toDoubleArray(col(vecCol)).as("v"))
    val cen = centroids.select(col("cell"), toDoubleArray(col("cvec")).as("cv"))
    val w = Window.partitionBy("id").orderBy(col("sim").desc, col("cell").asc)
    v.crossJoin(broadcast(cen))
      .withColumn("sim", cosineCol(col("v"), col("cv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("id", "v", "cell")
  }

  // -------------------------------------------------------------------------
  // Seeded k-means centroid fit — makes IVF self-contained at scale
  // -------------------------------------------------------------------------

  /** The fixed-point scale: 10^6 units per 1.0. */
  private val FixedPoint = 1000000L

  /** Fixed-point projection of a float vector: floor(x·10^6) per element.
    * All k-means arithmetic below is integer (BIGINT sums, truncating
    * division), so the fit is bit-identical at any partitioning AND across
    * engines (a float mean's summation order is partition-dependent; an
    * integer sum is associative). Cosine over a uniformly scaled vector
    * equals cosine over the original up to the 10^-6 quantization. */
  def toFixedPoint(c: Column): Column =
    transform(c, x => floor(x.cast("double") * FixedPoint).cast("long"))

  /**
   * Deterministic Lloyd's k-means over an embedding column, the centroid
   * *fit* feeding `ivfTopK`:
   *
   *   - init: the k vectors with smallest md5(id) — content-keyed, so the
   *     seeds are a property of the data, not of partitioning; computed as
   *     a distributed top-k (TakeOrdered), never a global sort;
   *   - exactly `iters` assign/update rounds (no convergence test — a
   *     fixed iteration count is what makes the oracle's unrolled-SQL twin
   *     and cross-run determinism possible, the q39 pattern);
   *   - assignment evaluates the k-row centroid table as an inlined
   *     literal argmax (r7 — ties on cell ascending, the guarded
   *     zero-denominator cosine); update is an integer mean per (cell,
   *     element) — BIGINT sum, truncating div — reassembled in element
   *     order; empty cells keep their previous centroid.
   *
   * Returns (cell: int, n_assigned: long, centroid: array<bigint>) in the
   * 10^6 fixed-point domain; `fitCentroidsForIvf` converts for `ivfTopK`.
   *
   * FIT CONTRACT: the fit Lloyd-iterates over the FULL `vectors` input —
   * every round broadcasts the k centroids against every row. At 100 TB a
   * caller must fit on a deterministic sample (filter on pmod(md5(id), N))
   * — the plan is unchanged, only the input shrinks; each iteration is one
   * broadcast-join pass + one (cell, pos)-keyed agg, k·dim rows of state.
   * `maxFitRows` enforces this loudly: a fit over more rows than the guard
   * fails fast instead of silently running `iters` full-corpus passes.
   */
  def kmeansFit(vectors: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int, maxFitRows: Long = 2000000L,
                preCountedRows: Option[Long] = None): DataFrame = {
    require(k > 0 && iters > 0, s"need k > 0 and iters > 0, got k=$k iters=$iters")
    // callers fitting the SAME input repeatedly (pqFitCodebooks: one fit
    // per subspace) count once and pass it down instead of paying one
    // count job per fit
    val nFit = preCountedRows.getOrElse(vectors.count())
    require(nFit <= maxFitRows,
      s"kmeansFit over $nFit rows > maxFitRows=$maxFitRows: the fit runs " +
        s"$iters full passes over its input — fit on a deterministic sample " +
        "(e.g. filter on pmod(conv(substring(md5(id),1,15),16,10), N) = 0) " +
        "and assign the full set afterwards, or raise maxFitRows explicitly")
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors
      .select(col(idCol).cast("string").as("id"), toFixedPoint(col(vecCol)).as("v"))
    // distributed top-k by content hash (TakeOrdered — never a global
    // sort), collected once: k seed rows, bounded by contract. Cells are
    // numbered 1..k in (h, id) order, exactly the old row_number window.
    val seeds = v.select(md5(col("id")).as("h"), col("id"), col("v"))
      .orderBy(col("h"), col("id")).limit(k)
      .select(col("v")).collect()
    // Driver-local Lloyd state: the centroid table is k·dim longs — the
    // SAME driver footprint the per-round broadcast already paid. Each
    // round is now ONE job (the (cell, pos) integer-sum agg collected to
    // the driver, k·dim rows) instead of crossJoin(k per vector) → full
    // id-keyed window shuffle → join → localCheckpoint: at 10^10 vectors
    // the old shape shuffled the whole vector table once per round just
    // to compute a per-row argmax; this shape's only per-round exchange
    // is the (cell, pos)-keyed partial-combined agg (k·dim·width rows).
    // Arithmetic is unchanged (fixed-point cosine, (sim desc, cell asc)
    // tie-break via nearestIdxExpr, BIGINT sums, truncating div) — the
    // fit is bit-identical (SimilaritySpec, q55/q57/q65/q66/q75 oracles).
    var cen: Array[Seq[Long]] = seeds.map(_.getSeq[Long](0))
    var nAssigned: Array[Long] = Array.fill(cen.length)(0L)
    if (cen.nonEmpty) {
      var it = 0
      while (it < iters) {
        // centroids enter as DOUBLES (long→double cast = the same values
        // toDoubleArray produced inside the old cosFixed), with the
        // zero-denominator guard preserved (guarded = true)
        val matD = cen.toSeq.map(_.map(_.toDouble))
        val sums = withNearestIdx(
            v.withColumn("vd", toDoubleArray(col("v"))), "vd", matD,
            guarded = true, "_ix")
          .select((col("_ix") + 1).as("cell"), posexplode(col("v")).as(Seq("pos", "val")))
          .groupBy("cell", "pos")
          .agg(sum(col("val")).as("s"), count(lit(1)).as("n"))
          .select(col("cell").cast("int"), col("pos"), col("s"), col("n"))
          .as[(Int, Int, Long, Long)].collect()
        val next = cen.clone()
        val nNext = Array.fill(cen.length)(0L)
        sums.groupBy(_._1).foreach { case (cell, rows) =>
          // s div n (BIGINT) truncates toward zero — Long./ is identical
          next(cell - 1) = rows.sortBy(_._2).toSeq.map(r => r._3 / r._4)
          nNext(cell - 1) = rows.map(_._4).max
        }
        cen = next
        nAssigned = nNext
        it += 1
      }
    }
    spark.createDataFrame(
      cen.toSeq.zipWithIndex.map { case (c, i) => (i + 1, nAssigned(i), c) })
      .toDF("cell", "n_assigned", "centroid")
  }

  /** Fitted fixed-point centroids → the (cell, cvec: array<double>) shape
    * `ivfTopK`/`assignCells` consume. */
  def fitCentroidsForIvf(fit: DataFrame): DataFrame =
    fit.select(col("cell"),
      transform(col("centroid"), x => x.cast("double") / FixedPoint.toDouble).as("cvec"))

  /**
   * IVF top-k: probe the `nProbe` nearest cells per query, brute-force only
   * inside them. Deterministic centroids: pass `fitCentroidsForIvf(
   * kmeansFit(...))`, or any deterministic centroid table (e.g., every Cth
   * vector by id) — the centroid table is an input, not part of this plan.
   */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    // per-ROW norms ahead of the probe join (same rationale and identical
    // arithmetic as bruteForceTopK — dot/(qn·vn) with the old grouping)
    val assigned = assignCells(candidates, centroids, idCol, vecCol)
      .withColumn("vn", normCol(col("v")))
    val q = queries.select(col(idCol).as("query_id"), toDoubleArray(col(vecCol)).as("qv"))
    val probes = probeCells(q, centroids, nProbe)
      .withColumn("qn", normCol(col("qv")))
    val wTop = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("id").asc)
    probes.join(assigned, "cell")
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine", dotCol(col("qv"), col("v")) / (col("qn") * col("vn")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("cand_id"), col("cosine"), col("rank"))
  }

  /** Each query's `nProbe` nearest centroid cells by cosine (ties on cell
    * ascending): (query_id, qv, cell). `q` must carry (query_id, qv);
    * both sides are broadcast (queries are caller-bounded, centroids are a
    * small dimension). Shared by `ivfTopK` and `ivfPqTopK`. */
  private def probeCells(q: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame = {
    val cen = centroids.select(col("cell"), toDoubleArray(col("cvec")).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cell").asc)
    broadcast(q).crossJoin(broadcast(cen))
      .withColumn("csim", cosineCol(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= nProbe)
      .select("query_id", "qv", "cell")
  }

  // -------------------------------------------------------------------------
  // Product quantization (PQ) — the memory-compression ANN scale path
  // -------------------------------------------------------------------------

  /** Dimension of the first non-null vector in `vecCol` (None when no row
    * has one): ONE bounded row read, never a full pass — dimension
    * consistency across rows is the caller's contract. Null vectors are
    * skipped because `size(null)` is null under ANSI mode. */
  def vectorDim(df: DataFrame, vecCol: String): Option[Int] =
    df.filter(col(vecCol).isNotNull).select(size(col(vecCol)))
      .limit(1).collect().headOption.map(_.getInt(0))

  /** Loud fail-fast when m·subDim exceeds the vector dimension — a
    * mismatched slice would otherwise zip against nulls and "encode" every
    * vector to an arbitrary cell. */
  private def requireDim(df: DataFrame, vecCol: String, need: Int, who: String): Unit =
    vectorDim(df, vecCol).foreach(d =>
      require(d >= need, s"$who: m*subDim = $need exceeds vector dimension $d"))

  /**
   * Fit one k-means codebook per subspace: the embedding is cut into `m`
   * contiguous blocks of `subDim` and each block gets its own `kmeansFit`
   * (same content-keyed init, fixed Lloyd rounds, all-integer update —
   * deterministic at any partitioning). Returns (subspace, cell, cvec:
   * array<double>) — the codebook `pqEncode`/`pqTopK` consume.
   *
   * Scale: codebooks are fit on a bounded sample (the `kmeansFit` contract,
   * `maxFitRows`-guarded); the result is m·k rows — driver-trivial,
   * broadcast everywhere downstream.
   */
  def pqFitCodebooks(vectors: DataFrame, idCol: String, vecCol: String,
                     m: Int, subDim: Int, k: Int, iters: Int,
                     maxFitRows: Long = 2000000L): DataFrame = {
    require(m > 0 && subDim > 0, s"need m > 0 and subDim > 0, got m=$m subDim=$subDim")
    requireDim(vectors, vecCol, m * subDim, "pqFitCodebooks")
    // one guard count for all m fits — the input is the same every time
    val nFit = vectors.count()
    // the m fits are INDEPENDENT jobs over the same input — submit
    // them from concurrent driver threads so each fit's small per-round
    // jobs back-fill the executors the others leave idle (guide §2.6).
    // Each fit is deterministic on its own slice; the union order is the
    // subspace order, unchanged. `blocking` lets the global pool add a
    // thread while a fit waits on its jobs instead of starving other users.
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    (0 until m).map { s => Future { blocking {
      val sub = vectors.select(col(idCol).as("id"),
        slice(col(vecCol), s * subDim + 1, subDim).as("sv"))
      fitCentroidsForIvf(kmeansFit(sub, "id", "sv", k, iters, maxFitRows,
          preCountedRows = Some(nFit)))
        .select(lit(s).as("subspace"), col("cell"), col("cvec"))
    } } }.map(Await.result(_, Duration.Inf)).reduce(_ union _)
  }

  /**
   * Encode every vector as `m` small integer codes — nearest codebook
   * centroid per subspace (cosine, ties on cell ascending). Returns
   * (id, subspace, code): the long-form PQ code table. This is the
   * compression step: downstream similarity never touches the original
   * vectors again — a 64-float embedding becomes m bytes of codes, the
   * difference between an ANN index that fits in executor memory at
   * 10^10 vectors and one that doesn't.
   *
   * One zero-shuffle projection over the inlined codebook (m·k rows), or
   * `pqEncodeBroadcast` when the route declines the codebook.
   */
  def pqEncode(vectors: DataFrame, codebooks: DataFrame,
               idCol: String, vecCol: String, m: Int, subDim: Int): DataFrame = {
    requireDim(vectors, vecCol, m * subDim, "pqEncode")
    // codebooks are m·k rows by contract — collect once and inline
    // per-subspace matrices as literals, so the encode is ONE zero-shuffle
    // projection instead of pqEncodeBroadcast's m-way explode + (id,
    // subspace)-keyed window. Same cosine arithmetic and (sim desc, cell
    // asc) tie-break via withNearestIdx over ascending-cell matrices —
    // bit-identical codes (q65/q66 oracles).
    val cellType = codebooks.schema("cell").dataType
    // codebooks the route declines (large m·k configurations, non-integral
    // or null ids) keep the broadcast-join + window shape
    val cbRows = route.local(codebooks.select(col("subspace"), col("cell"),
        toDoubleArray(col("cvec")).as("cv")), maxLiteralCentroids, "pqEncode literal",
        Seq("subspace", "cell"), route.Integral) match {
      case Some(rows) => rows
      case None => return pqEncodeBroadcast(vectors, codebooks, idCol, vecCol, m, subDim)
    }
    val v = vectors.select(col(idCol).as("id"), toDoubleArray(col(vecCol)).as("v"))
    val bySub = cbRows.groupBy(_.getAs[Number](0).intValue)
    // only subspaces present in the codebook emit codes (the old join
    // semantics); a fully empty codebook emits no rows
    val present = bySub.keys.toSeq.sorted
    if (present.isEmpty)
      return v.filter(lit(false))
        .select(col("id"), lit(0).as("subspace"), lit(null).cast(cellType).as("code"))
    def cell(r: Row): Long = r.getAs[Number](1).longValue
    val sortedBySub = present.map(s => s -> bySub(s).sortBy(cell))
    var df = v
    sortedBySub.foreach { case (s, sorted) =>
      df = withNearestIdx(
        df.withColumn(s"_sv$s", slice(col("v"), s * subDim + 1, subDim)),
        s"_sv$s", sorted.toSeq.map(_.getSeq[Double](2)),
        guarded = false, s"_ix$s")
        .drop(s"_sv$s")
    }
    val codeStructs = sortedBySub.map { case (s, sorted) =>
      struct(lit(s).as("subspace"),
        element_at(typedLit(sorted.toSeq.map(cell)),
          (col(s"_ix$s") + 1).cast("int")).cast(cellType).as("code"))
    }
    df.select(col("id"), explode(array(codeStructs: _*)).as("e"))
      .select(col("id"), col("e.subspace").as("subspace"), col("e.code").as("code"))
  }

  /** The broadcast encode plan (explode × m → broadcast codebook join →
    * (id, subspace)-keyed window): the fallback for codebooks the literal
    * path declines. Bit-identical results to `pqEncode`. */
  def pqEncodeBroadcast(vectors: DataFrame, codebooks: DataFrame,
                        idCol: String, vecCol: String, m: Int, subDim: Int): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), toDoubleArray(col(vecCol)).as("v"))
      .withColumn("subspace", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("sv", slice(col("v"), col("subspace") * subDim + 1, lit(subDim)))
    val cb = codebooks.select(col("subspace"), col("cell"), toDoubleArray(col("cvec")).as("cv"))
    val w = Window.partitionBy("id", "subspace").orderBy(col("sim").desc, col("cell").asc)
    v.join(broadcast(cb), Seq("subspace"))
      .withColumn("sim", cosineCol(col("sv"), col("cv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("id"), col("subspace"), col("cell").as("code"))
  }

  /**
   * Asymmetric-distance (ADC) top-k over PQ codes: the query stays exact,
   * each candidate is its reconstruction x̂ = concat of its per-subspace
   * centroids, and cos(q, x̂) decomposes into per-subspace lookup terms:
   *
   *   cos(q, x̂) = Σ_s dot(q_s, c_{s,code_s}) / (‖q‖ · sqrt(Σ_s ‖c_{s,code_s}‖²))
   *
   * so scoring a candidate is `m` additions against a per-query lookup
   * table of m·k precomputed (dot, ‖c‖²) pairs — never a full-dimension
   * dot product per candidate.
   *
   * Scale: the LUT is |queries|·m·k rows — broadcast; the only exchange
   * over the candidate side carries (id, subspace, code) integer rows, and
   * the per-(query, cand) aggregation has map-side partial combine.
   * (FP note: the Σ_s sums fold in FIXED subspace order — the terms are
   * collected per (query, cand), sorted by subspace, and reduced with a
   * sequential `aggregate` — so the score is bit-exact at any
   * partitioning for ANY m, not just the commutative-trivial m = 2.)
   */
  /** Per-query PQ lookup table: (query_id, subspace, code, dot, c2) for
    * every codebook entry. `q` must carry (query_id, qv). */
  private def pqLut(q: DataFrame, codebooks: DataFrame, subDim: Int): DataFrame = {
    val cb = codebooks.select(col("subspace"), col("cell"), toDoubleArray(col("cvec")).as("cv"))
    broadcast(q).crossJoin(broadcast(cb))
      .withColumn("sv", slice(col("qv"), col("subspace") * subDim + 1, lit(subDim)))
      .select(col("query_id"), col("subspace"), col("cell").as("code"),
        dotCol(col("sv"), col("cv")).as("dot"), dotCol(col("cv"), col("cv")).as("c2"))
  }

  /** Shared ADC tail for `pqTopK`/`ivfPqTopK`: sum the per-subspace LUT
    * terms per (query, candidate) — keeping only candidates with a full set
    * of `m` code rows (a partial code table must not score) — then the
    * guarded cosine (a zero-norm query or an all-zero reconstruction scores
    * 0.0, never NaN — Spark sorts NaN ABOVE every real value, so an
    * unguarded 0/0 would put a degenerate candidate at rank 1) and the
    * deterministic top-k window. `joined` carries (query_id, id, subspace,
    * dot, c2) rows, one per (candidate, subspace); the terms fold in
    * subspace order (array_sort + sequential aggregate) so the FP sums are
    * partition-invariant for any m. */
  private def adcTopK(joined: DataFrame, qn: DataFrame, k: Int, m: Int): DataFrame = {
    val wTop = Window.partitionBy("query_id").orderBy(col("adc_cosine").desc, col("cand_id").asc)
    val den = col("qnorm") * sqrt(col("sc2"))
    joined
      .groupBy(col("query_id"), col("id").as("cand_id"))
      .agg(array_sort(collect_list(
        struct(col("subspace"), col("dot"), col("c2")))).as("terms"))
      .select(col("query_id"), col("cand_id"),
        aggregate(col("terms"), lit(0.0),
          (acc, t) => acc + t.getField("dot")).as("sd"),
        aggregate(col("terms"), lit(0.0),
          (acc, t) => acc + t.getField("c2")).as("sc2"),
        size(col("terms")).as("nsub"))
      .filter(col("nsub") === m)
      .filter(col("query_id") =!= col("cand_id"))
      .join(broadcast(qn), Seq("query_id"))
      .withColumn("adc_cosine",
        when(den === 0.0, lit(0.0)).otherwise(col("sd") / den))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("adc_cosine"), col("rank"))
  }

  def pqTopK(queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
             idCol: String, vecCol: String, k: Int, m: Int, subDim: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), toDoubleArray(col(vecCol)).as("qv"))
    val qn = q.select(col("query_id"), normCol(col("qv")).as("qnorm"))
    adcTopK(codes.join(broadcast(pqLut(q, codebooks, subDim)), Seq("subspace", "code")),
      qn, k, m)
  }

  /**
   * IVF + PQ: the production ANN composition — a coarse quantizer routes
   * each query to its `nProbe` nearest cells (the IVF recall/cost dial) and
   * candidates are scored by PQ ADC *within those cells only*, never by a
   * full-dimension dot product and never outside the probed cells.
   *
   * `coarse` is an IVF centroid table (cell, cvec); `codebooks` a PQ
   * codebook (subspace, cell, cvec) — both typically fitted on the same
   * deterministic sample via `kmeansFit` / `pqFitCodebooks`.
   *
   * Scale: candidates are assigned to coarse cells once and carried as
   * (id, cell, subspace, code) integer rows — the per-vector state is the
   * cell id plus m codes, nothing else. Probes and the per-query LUT are
   * broadcast (|q|·nProbe and |q|·m·k rows); the candidate side sees one
   * broadcast-join chain + a partially-aggregated (query, cand) sum, so
   * the scan cost is |probed cells|/|cells| of the PQ-only scan.
   */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame,
                coarse: DataFrame, codebooks: DataFrame,
                idCol: String, vecCol: String, k: Int, nProbe: Int,
                m: Int, subDim: Int): DataFrame = {
    val assigned = assignCells(candidates, coarse, idCol, vecCol)
      .select(col("id"), col("cell"))
    val cellCodes = pqEncode(candidates, codebooks, idCol, vecCol, m, subDim)
      .join(assigned, Seq("id"))
    val q = queries.select(col(idCol).as("query_id"), toDoubleArray(col(vecCol)).as("qv"))
    val probes = probeCells(q, coarse, nProbe).select(col("query_id"), col("cell"))
    val qn = q.select(col("query_id"), normCol(col("qv")).as("qnorm"))
    adcTopK(
      cellCodes.join(broadcast(probes), Seq("cell"))
        .join(broadcast(pqLut(q, codebooks, subDim)), Seq("query_id", "subspace", "code")),
      qn, k, m)
  }

  /**
   * SemDeDup-style semantic deduplication: fit a k-means coarse quantizer
   * on `fit` (the `kmeansFit` contract — a deterministic, `maxFitRows`-
   * bounded sample), assign every vector to its nearest cluster, and
   * within each cluster drop every vector that has a SMALLER-id neighbor
   * with cosine ≥ `tau`. This is the standard greedy SemDeDup rule (drop j
   * iff ∃ i < j in the same cluster with sim(i,j) ≥ τ — the paper breaks
   * the tie by distance-to-centroid; id order is this engine's total-order
   * tie-break, so the kept set is a pure function of content). Emits one
   * row per input vector: (id, cell, n_dups_smaller, kept) — audits want
   * the full record, callers filter on `kept`.
   *
   * Scale: the cluster blocking is what makes semantic dedup possible at
   * 10^10 vectors — pairwise cosine runs only within a cell, so cost is
   * Σ_c |cell_c|² instead of n². `k` must grow with n (the paper's layout:
   * k ≈ n / desired-cluster-size) — the `stage.pinned(cell)` width pin
   * on both self-join sides pins the pair-generation width to the cell
   * count granularity (AQE sizes that exchange by input bytes, not the
   * quadratic fan-out — the 1-task disease, BENCH/BASELINE.md); with
   * production k in the tens of thousands every executor holds a few
   * cells. The id-keyed count/join tails are narrow-key shuffles with
   * partial combine.
   */
  def semanticDedup(vectors: DataFrame, fit: DataFrame,
                    idCol: String, vecCol: String,
                    k: Int, iters: Int, tau: Double): DataFrame = {
    val cen = fitCentroidsForIvf(kmeansFit(fit, idCol, vecCol, k, iters))
    // materialized ONCE: three consumers below (both self-join sides + the
    // full-record projection) would otherwise each re-run the assignment's
    // broadcast-join + window over the 10^10-vector input — two extra full
    // scans at the scale this operator exists for
    val assigned = stage.materialize(
      assignCells(vectors, cen, idCol, vecCol))
    // per-ROW norms computed before the pair join (8 extra bytes through
    // the cell exchange vs three interpreted array passes per PAIR —
    // identical dot/(na·nb) arithmetic, see bruteForceTopK)
    val a = stage.pinned(assigned.select(col("cell"), col("id").as("id_a"), col("v").as("va"))
      .withColumn("na", normCol(col("va"))), col("cell"))
    val b = stage.pinned(assigned.select(col("cell"), col("id").as("id_b"), col("v").as("vb"))
      .withColumn("nb", normCol(col("vb"))), col("cell"))
    val dup = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(dotCol(col("va"), col("vb")) / (col("na") * col("nb")) >= tau)
      .groupBy(col("id_b").as("id")).agg(count(lit(1)).as("n_dups_smaller"))
    assigned.select(col("id"), col("cell"))
      .join(dup, Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("n_dups_smaller"), lit(0L)).as("n_dups_smaller"),
        (coalesce(col("n_dups_smaller"), lit(0L)) === 0).cast("int").as("kept"))
  }
}
