package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memoization of an expensive derived value that
  * several queries consume (the MinHash signatures feeding D3 and D6,
  * the lag grid feeding the lag_grid selections, the IVF index, the
  * staged s15/s22 layouts). The 100 TB analogue is persisting the
  * result of the one expensive corpus pass and running every
  * downstream query against it.
  *
  * Registry: each memo is constructed with a name and registers itself
  * in [[MaterializedTable.registry]], in construction order — so a memo
  * declared after the memos it reads registers after them. The name is
  * its `graft.Bench` entry: Bench forces `SparkEntry.queries`, which
  * initializes every operator object, and times each registered build.
  *
  * Release hook, per value type:
  *  - DataFrame ([[MaterializedTable.apply]]): `persist(MEMORY_AND_DISK)`
  *    + an eager `count()`, so the build cost is paid (and measurable)
  *    at the first `apply`; lineage is KEPT so blocks lost with an
  *    executor are recomputed instead of failing the query (the reason
  *    this is persist, not `localCheckpoint`); `unpersist(blocking =
  *    true)` on invalidate;
  *  - any other value ([[MaterializedTable.of]]): the caller's hook —
  *    nothing for a driver-heap binary, deleting a staged dir, dropping
  *    a catalog table. Parts that must stay in sync (the IVF quantizer
  *    and its lists) are one value, so they are invalidated together.
  *
  * Lifecycle contract: an entry is valid for as long as the data under
  * its `dir` is immutable — true for the harness's read-only sf
  * directories, and the usual contract for immutable lake data. A
  * caller that rewrites data under a cached path in-session MUST call
  * [[invalidate]] first; the cache keys on (session, path) and cannot
  * see content changes behind the path.
  */
final class MaterializedTable[V] private (val name: String,
    build: (SparkSession, String) => V,
    release: (SparkSession, V) => Unit) {

  private val cache = TrieMap.empty[(SparkSession, String), V]
  MaterializedTable.register(this)

  /** The value for (session, dir), building it on first use. The build
    * is serialized under a per-memo lock: TrieMap's getOrElseUpdate may
    * run the supplier in two racing threads and keep one result — the
    * loser's value would never be released. Builds are rare (once per
    * (session, dir)) and concurrent first use is exactly the advertised
    * sharing scenario, so a coarse lock is the right cost. */
  def apply(s: SparkSession, d: String): V = synchronized {
    cache.getOrElseUpdate((s, d), build(s, d))
  }

  /** Whether (session, dir) holds a built value. */
  def cached(s: SparkSession, d: String): Boolean = cache.contains((s, d))

  /** Drop the (session, dir) entry and release it. Next `apply`
    * rebuilds from the current data under `dir`. */
  def invalidate(s: SparkSession, d: String): Unit = synchronized {
    cache.remove((s, d)).foreach(release(s, _))
  }
}

object MaterializedTable {
  private val registered =
    scala.collection.mutable.ArrayBuffer.empty[MaterializedTable[_]]

  private def register(m: MaterializedTable[_]): Unit =
    registered.synchronized { registered += m }

  /** Every memo constructed so far, in construction order. Force
    * `SparkEntry.queries` first to see all of them. */
  def registry: Seq[MaterializedTable[_]] =
    registered.synchronized(registered.toList)

  /** A persisted DataFrame memo named `name`. */
  def apply(name: String)(
      plan: (SparkSession, String) => DataFrame): MaterializedTable[DataFrame] =
    new MaterializedTable[DataFrame](name, (s, d) => materialize(plan(s, d)),
      (_, m) => m.unpersist(blocking = true))

  /** A memo named `name` of any other value, released by `release`. */
  def of[V](name: String)(build: (SparkSession, String) => V)(
      release: (SparkSession, V) => Unit): MaterializedTable[V] =
    new MaterializedTable[V](name, build, release)

  /** `df` persisted and counted: the DataFrame memo's build step. */
  def materialize(df: DataFrame): DataFrame = {
    val m = df.persist(StorageLevel.MEMORY_AND_DISK)
    m.count()
    m
  }
}
