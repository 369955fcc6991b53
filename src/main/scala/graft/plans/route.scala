package graft.plans

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.types._

/**
 * The one local-or-distributed decision behind every driver-collect guard
 * (linker trie, BPE merges, connected components, hierarchy depth, the
 * IVF/PQ literal argmax, the forced catalog broadcast, extension + repair).
 *
 * Contract of `local(ds, bound, name, keys)`:
 *  - ONE bounded collect, `limit(bound + 1).collect()`, never a separate
 *    `count()`. Spark may run that collect as several jobs: its take scans
 *    one partition, then up to 4x as many per further job, until it holds
 *    bound + 1 rows or has read every partition. A 10,000-row
 *    `localCheckpoint`ed frame took 1/2/3/4/5 jobs at 1/4/8/32/200
 *    partitions; a cached one took 1 job at every count under AQE. An
 *    input within the bound comes back complete as `Some(rows)`. An input
 *    past it costs bound + 1 rows on the driver, never an OOM, and gives
 *    `None`.
 *  - The `keys` columns must have a type in `ids`. The default is `Ids`:
 *    integral and string ids, the types whose Spark order has a driver
 *    twin (`lt`). The check reads the schema only, so a rejected type runs
 *    no job. A null in a key column of the collected rows also gives
 *    `None`: the distributed plan's joins define null semantics.
 *  - Every `None` prints one stderr line with the site name, the bound and
 *    the observed size (`note`).
 * `None` means the caller runs its distributed plan. Each site keeps a
 * spec that the two routes give the same result.
 */
object route {

  val Integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
  val Ids: Set[DataType] = Integral + StringType

  /** Catalog-dimension bound: the default of `Pipeline.Params.maxDictEntities`
    * and the class count past which catalog postings are not force-broadcast. */
  val MaxCatalog = 5000000L

  /** `keys` apply to DataFrames (Dataset[Row]) only. */
  def local[T](ds: Dataset[T], bound: Long, name: String,
               keys: Seq[String] = Nil, ids: Set[DataType] = Ids): Option[Array[T]] = {
    val badType = keys.map(ds.schema(_)).find(f => !ids(f.dataType))
    if (badType.isDefined) {
      note(name, bound, "unprobed", s"key ${badType.get.name} is ${badType.get.dataType.simpleString}")
      return None
    }
    val rows = ds.limit((math.max(-1L, math.min(bound, Int.MaxValue - 1L)) + 1).toInt).collect()
    val ix = keys.map(ds.schema.fieldIndex)
    if (rows.length > bound) { note(name, bound, s"${bound + 1}+", "over bound"); None }
    else if (ix.nonEmpty && rows.exists(r => ix.exists(r.asInstanceOf[Row].isNullAt))) {
      note(name, bound, rows.length.toString, "null key"); None
    } else Some(rows)
  }

  /** Spark SQL's order for an `Ids` type: integral values numerically,
    * strings in UTF-8 byte order (UTF8String.compareTo, not
    * String.compareTo, which disagrees above the BMP). */
  def lt(dt: DataType): (Any, Any) => Boolean = dt match {
    case StringType =>
      (x, y) => graft.operators.vocab.utf8Lt(x.asInstanceOf[String], y.asInstanceOf[String])
    case _ => (x, y) => x.asInstanceOf[Number].longValue < y.asInstanceOf[Number].longValue
  }

  /** Spark SQL's order for doubles (`SQLOrderingUtil.compareDoubles`):
    * NaN is the greatest value and equals itself, and -0.0 equals 0.0. */
  def cmp(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** The broadcast hint for a catalog-side table of `d` classes: forced
    * while `d` is within `MaxCatalog`, else `None` (Spark's size statistics
    * decide). Runs no job: callers already know `d`. */
  def broadcastCatalog(d: Long, name: String): Option[Boolean] =
    if (d <= MaxCatalog) Some(true)
    else { note(name, MaxCatalog, d.toString, "catalog too large to force a broadcast"); None }

  /** The one stderr line of every fallback off the local (or forced) route. */
  def note(name: String, bound: Long, observed: String, why: String): Unit =
    System.err.println(s"[graft] route $name: fallback ($why; bound=$bound, observed=$observed)")
}
