package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Session-lifetime memo of fixture-derived intermediates (parquet
  * relations, checkpointed indexes, driver-side states) — every memo in
  * `graft.ops` goes through here.
  *
  * An entry is keyed by (session by reference, name, digest); the digest
  * is a content digest of the inputs (`SourceSinkOps.fixtureKey`), so a
  * regenerated fixture never serves a stale index. Installing an entry
  * evicts the entries of the same (session, name) under other digests,
  * which keeps the cache bounded by the live fixture set.
  *
  * The map holds one cell per key, installed atomically; the build runs
  * when the cell is first read, OUTSIDE any map call. A builder may
  * therefore read other entries (the cent grid reads the hourly aggregate,
  * PC-2 reads PC-1, ...) — the same nesting inside a
  * `ConcurrentHashMap.computeIfAbsent` mapping function throws
  * `IllegalStateException: Recursive update` whenever the two keys share a
  * bin. Concurrent readers of one cell wait for its single build. A build
  * that throws leaves nothing behind: the next call rebuilds. */
private[graft] object IndexCache {

  private final case class Key(session: SparkSession, name: String, digest: String)

  private final class Cell(build: () => Any) {
    lazy val value: Any = build()
  }

  private val cells = new ConcurrentHashMap[Key, Cell]()

  def apply[T](s: SparkSession, name: String, digest: String)(build: => T): T = {
    val key = Key(s, name, digest)
    val fresh = new Cell(() => build)
    val prior = cells.putIfAbsent(key, fresh)
    val cell = if (prior != null) prior else {
      cells.keySet.removeIf(k => k.session.eq(s) && k.name == name && k.digest != digest)
      fresh
    }
    try cell.value.asInstanceOf[T]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** Drop every entry (cold-build measurements). */
  def clear(): Unit = cells.clear()
}
