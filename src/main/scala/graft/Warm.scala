package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's warm state: every index, layout copy and driver value that
  * is built once and read by many queries (the build-once/query-many
  * lifecycle of the ANN indexes, graph edge sets, dedup signatures, layout
  * copies and DSv2 topics). Each entry has a constant name, unique in the
  * tree, and one of two lifetimes:
  *  - per JVM, keyed by (name, dir): driver values ([[value]]) and on-disk
  *    artifacts ([[disk]]), which live as long as the process;
  *  - per session, keyed by (name, session, dir): frames whose blocks live
  *    in the creating session's block manager ([[frame]], [[session]]). A
  *    second session must rebuild rather than read a dead session's
  *    blocks. The session compares by reference (SparkSession does not
  *    override equals), and every session-scoped access first drops the
  *    entries of sessions whose SparkContext has stopped, so a long-lived
  *    multi-session embedder does not pin their lineage.
  *
  * Build-once holds per entry: each entry has its own cell, and only that
  * cell is locked while it builds. Two callers of one entry build it once;
  * a caller of another entry never waits on it; a build that throws leaves
  * the cell empty, so the next call builds again. Builds may nest (an
  * entry's build reads other entries), which is why the build runs in the
  * cell and never inside `ConcurrentHashMap.computeIfAbsent`.
  */
object Warm {

  private final case class Key(
      name: String, session: Option[SparkSession], dir: String)

  /** One entry's slot: empty until a build returns. */
  private final class Cell {
    @volatile private var value: Option[Any] = None

    def apply(build: => Any): Any = value.getOrElse(synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    })
  }

  private val cells = new ConcurrentHashMap[Key, Cell]()

  private def entry[V](key: Key)(build: => V): V =
    cells.computeIfAbsent(key, _ => new Cell)(build).asInstanceOf[V]

  /** A per-JVM driver value (collected numbers, no session state). */
  def value[V](name: String, dir: String)(build: => V): V =
    entry(Key(name, None, dir))(build)

  /** A per-JVM on-disk artifact: `build` writes into an empty scratch dir
    * that the catalog names `warm_<fixture>_<name>`, where `<fixture>` is
    * the number the catalog gave `dir` when it first saw it. Distinct
    * (name, dir) pairs thus never share a path, so one fixture's build
    * cannot empty another's copy.
    */
  def disk[V](name: String, dir: String)(build: String => V): V =
    value(name, dir)(build(Scratch.fresh(s"warm_${fixture(dir)}_$name")))

  private val fixtures = new ConcurrentHashMap[String, Int]()
  private val nextFixture = new AtomicInteger

  private def fixture(dir: String): Int =
    fixtures.computeIfAbsent(dir, _ => nextFixture.getAndIncrement())

  /** A per-session value that holds session state as it is (a frame the
    * build has already cut, for one).
    */
  def session[V](name: String, s: SparkSession, dir: String)(
      build: => V): V = {
    purge(_.sparkContext.isStopped)
    entry(Key(name, Some(s), dir))(build)
  }

  /** A per-session frame, cut here ([[Cut]]), so its builder ends at the
    * plan and does not cut it again; the entry keeps the cut's row count.
    */
  def frame(name: String, s: SparkSession, dir: String)(
      build: => DataFrame): Cut =
    session(name, s, dir)(Cut(build))

  /** Drops every per-session entry whose session `dead` marks. Exposed so
    * a spec can drive it without stopping a real SparkContext (local-mode
    * sessions share one context).
    */
  private[graft] def purge(dead: SparkSession => Boolean): Unit = {
    cells.keySet.removeIf(_.session.exists(dead)); ()
  }
}
