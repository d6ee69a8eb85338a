package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** One family of session-scoped memo entries: a typed handle on the ONE
  * registry every lane memoizes its per-(session, key) intermediates
  * through (pinned frames, trained models, artifact roots), in the same
  * way [[Pin]] owns materialization.
  *
  * Why a seam: the lanes reuse session intermediates across one another
  * (a report over a pair frame another lane built), and that reuse needs
  * one policy, not one per module:
  *  - at most one build per key under concurrent callers;
  *  - builds may nest across families — the registry map holds only a
  *    per-key cell and the build runs under that cell's lock, never
  *    inside the map's own (a nested `computeIfAbsent` on one shared
  *    `ConcurrentHashMap` is illegal);
  *  - a build that throws caches nothing, so the next call builds again;
  *  - [[SessionMemo.reset]] drops every family at once, which is how an
  *    in-session corpus rewrite becomes observable.
  *
  * Entries are keyed by the family handle itself, so two families with
  * equal key tuples never collide; `name` only labels the family.
  */
final class SessionMemo[K, V] private (val name: String) {
  import SessionMemo.Cell

  /** The entry for `(s, key)`, running `build` first if there is none. */
  def apply(s: SparkSession, key: K)(build: => V): V = {
    val cell = SessionMemo.cells.computeIfAbsent((this, s, key), _ => new Cell)
    def built = cell.value.map(_.asInstanceOf[V])
    built.getOrElse(cell.synchronized {
      built.getOrElse {
        val v = build
        cell.value = Some(v)
        v
      }
    })
  }

  /** Install `value` for `(s, key)`, replacing any entry; returns it. */
  def put(s: SparkSession, key: K, value: V): V = {
    val cell = new Cell
    cell.value = Some(value)
    SessionMemo.cells.put((this, s, key), cell)
    value
  }

  /** The entry for `(s, key)` if one has been built or put. */
  def get(s: SparkSession, key: K): Option[V] =
    Option(SessionMemo.cells.get((this, s, key)))
      .flatMap(_.value.map(_.asInstanceOf[V]))

  override def toString: String = s"SessionMemo($name)"
}

object SessionMemo {

  def apply[K, V](name: String): SessionMemo[K, V] = new SessionMemo[K, V](name)

  /** Drop every family's entries. A build in flight finishes for its own
    * caller; later calls build again.
    */
  def reset(): Unit = cells.clear()

  /** One key's slot; a family's cells only ever hold that family's `V`. */
  private final class Cell {
    @volatile var value: Option[Any] = None
  }

  private val cells = new ConcurrentHashMap[(SessionMemo[_, _], SparkSession, Any), Cell]()
}
