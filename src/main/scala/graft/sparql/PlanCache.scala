package graft.sparql

import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.rdf.QuadStore
import Ast._

/** Prepared-plan and answer cache — the engine's analog of the
  * reference's query cache (`src/frontend/query-cache.c:39-51`, 1024
  * entries). Repeated runs of the same query text against the same store
  * instance reuse the built DataFrame, skipping parse + algebra + Catalyst
  * analysis. A DataFrame is a plan, not a result, so each entry also keeps
  * the rows of its first complete run through a result writer
  * ([[rows]]), up to [[MaxRows]]: a repeat is then served with no Spark
  * job, like the reference's bind cache, which keys on the bound pattern
  * and caches the result rid vectors (`fs_bind_cache.res`). Sound because
  * a QuadStore is an immutable snapshot: an update builds a new instance,
  * which misses the identity-keyed cache. (ASK runs its any-rows probe
  * at build time, so an ASK frame is already its one-row answer.)
  *
  * Not cached at all: queries calling RAND, NOW, UUID, STRUUID or
  * zero-arg BNODE ([[volatile]]) — a cached plan fixes their random seeds
  * and timestamp, so a repeat would return the first run's values.
  *
  * Rows are kept only when a stream reaches its end: a failed, cancelled
  * or abandoned stream keeps nothing. The first run executes a fresh
  * Dataset over the cached frame, never the frame itself, so an entry
  * never retains an executed (AQE) plan tree. */
object PlanCache {
  /** LRU capacity (the reference's 1024 query-cache slots) */
  val MaxEntries = 1024
  /** answers with more rows than this are not kept */
  val MaxRows = 1000

  /** A built query: its frame, whether it answers with a graph
    * (CONSTRUCT / DESCRIBE) rather than solutions, and whether it is an
    * ASK (a one-row `ask` frame that answers with a boolean). */
  final class Prepared private[PlanCache] (val df: DataFrame,
                                           val graph: Boolean,
                                           val ask: Boolean) {
    @volatile private[PlanCache] var kept: Array[Row] = _
  }

  /** Cache key: store compared by REFERENCE (a mutated store is a new
    * instance and must never hit), text by value. */
  private final class Key(val store: QuadStore, val text: String) {
    override def hashCode: Int =
      System.identityHashCode(store) * 31 + text.hashCode
    override def equals(o: Any): Boolean = o match {
      case k: Key => (k.store eq store) && k.text == text
      case _ => false
    }
  }

  // access-ordered LRU plus a frame -> entry index for the result writers;
  // both guarded by `lock`
  private val lock = new Object
  private val byFrame = new java.util.IdentityHashMap[DataFrame, Prepared]()
  private val entries =
    new java.util.LinkedHashMap[Key, Prepared](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, Prepared]): Boolean =
        size() > MaxEntries && { byFrame.remove(e.getValue.df); true }
    }

  private val hits = new java.util.concurrent.atomic.AtomicLong()
  private val misses = new java.util.concurrent.atomic.AtomicLong()
  private val refusedVolatile = new java.util.concurrent.atomic.AtomicLong()
  private val refusedRows = new java.util.concurrent.atomic.AtomicLong()

  /** The entry for `text` on `store`, built by `build` on a miss. `build`
    * parses and returns the query with its frame. The key carries the
    * federation-policy tag: a plan built where SERVICE was allowed must
    * not serve a denied context. */
  def apply(store: QuadStore, text: String)(
      build: => (Query, DataFrame)): Prepared = {
    def built(): (Query, Prepared) = {
      val (q, df) = build
      (q, new Prepared(df, q.isInstanceOf[ConstructQ] ||
        q.isInstanceOf[DescribeQ], q.isInstanceOf[AskQ]))
    }
    // below opt level 3 the reference skips its query cache
    // (query-cache.c:270); same gate here
    if (Exec.optLevel < 3) return built()._2
    val k = new Key(store, Federation.keyPrefix + text)
    val hit = lock.synchronized(entries.get(k))
    if (hit != null) { hits.incrementAndGet(); return hit }
    misses.incrementAndGet()
    val (q, p) = built()
    if (volatile(q)) refusedVolatile.incrementAndGet()
    else {
      lock.synchronized {
        val old = entries.put(k, p)
        if (old != null) byFrame.remove(old.df)
        byFrame.put(p.df, p)
      }
      // the store was released while this entry was being built
      if (store.released) release(store)
    }
    p
  }

  /** Rows of `df` for a result writer. A cached frame whose first run
    * completed is served from its kept rows; otherwise the rows stream
    * through `toLocalIterator`, and a cached frame keeps them when the
    * stream ends with at most [[MaxRows]] rows. */
  def rows(df: DataFrame): Iterator[Row] = {
    val p = lock.synchronized(byFrame.get(df))
    if (p == null) df.toLocalIterator().asScala
    else if (p.kept != null) p.kept.iterator
    else {
      // a fresh Dataset: executing `df` itself would leave its executed
      // AQE plan on the cache entry
      val it = df.toDF(df.columns: _*).toLocalIterator().asScala
      new Iterator[Row] {
        private var buf = new ArrayBuffer[Row]()
        private var ended = false
        def hasNext: Boolean = {
          val more = it.hasNext
          if (!more && !ended) {
            ended = true
            if (buf == null) refusedRows.incrementAndGet()
            else p.kept = buf.toArray
          }
          more
        }
        def next(): Row = {
          val r = it.next()
          if (buf != null) {
            if (buf.size < MaxRows) buf += r else buf = null
          }
          r
        }
      }
    }
  }

  /** Drop every entry of `store` (a replaced endpoint snapshot), so its
    * pinned blocks are not kept alive until LRU eviction. An entry built
    * on it later is dropped as soon as it is put. */
  def release(store: QuadStore): Unit = {
    store.released = true
    lock.synchronized {
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.store eq store) {
          byFrame.remove(e.getValue.df)
          it.remove()
        }
      }
    }
  }

  /** number of cached entries built on `store` */
  def entriesFor(store: QuadStore): Int = lock.synchronized(
    entries.keySet().asScala.count(_.store eq store))

  final case class Stats(entries: Int, answers: Int, hits: Long,
                         misses: Long, refusedVolatile: Long,
                         refusedRows: Long) {
    def json: String =
      s"""{"entries":$entries,"answers":$answers,"hits":$hits,""" +
        s""""misses":$misses,"refused_volatile":$refusedVolatile,""" +
        s""""refused_rows":$refusedRows}"""
  }

  /** Process-wide counters: `hits`/`misses` count cache lookups,
    * `answers` the entries holding kept rows, `refused_volatile` the
    * volatile queries built uncached, `refused_rows` the first runs that
    * ended above [[MaxRows]]. */
  def stats: Stats = {
    val (n, a) = lock.synchronized(
      (entries.size, entries.values().asScala.count(_.kept != null)))
    Stats(n, a, hits.get, misses.get, refusedVolatile.get, refusedRows.get)
  }

  private val volatileFns = Set("RAND", "NOW", "UUID", "STRUUID")

  /** true when `q` calls RAND, NOW, UUID, STRUUID or zero-arg BNODE
    * anywhere: its answer may differ on every run. */
  def volatile(q: Query): Boolean = {
    def expr(e: Expr): Boolean = e match {
      case ECall("BNODE", Nil) => true
      case ECall(f, args) => volatileFns(f) || args.exists(expr)
      case EIn(x, l, _) => expr(x) || l.exists(expr)
      case EExists(g, _) => gp(g)
      case EAgg(_, _, a, _) => a.exists(expr)
      case _ => false
    }
    def gp(g: GP): Boolean = g match {
      case GroupGP(elems, filters) =>
        elems.exists(gp) || filters.exists(expr)
      case OptionalGP(i) => gp(i)
      case UnionGP(alts) => alts.exists(gp)
      case MinusGP(i) => gp(i)
      case GraphGP(_, i) => gp(i)
      case BindGP(e, _) => expr(e)
      case SubSelectGP(s) => select(s)
      case sv: ServiceGP => gp(sv.inner)
      case _ => false
    }
    def mods(m: Modifiers): Boolean =
      (m.groupBy ++ m.having ++ m.orderBy.map(_._1)).exists(expr)
    def select(s: SelectQ): Boolean =
      s.items.exists(i => expr(i.expr)) || gp(s.where) || mods(s.mods)
    q match {
      case s: SelectQ => select(s)
      case a: AskQ => gp(a.where)
      case c: ConstructQ => gp(c.where) || mods(c.mods)
      case d: DescribeQ => d.whereOpt.exists(gp) || mods(d.mods)
    }
  }
}
