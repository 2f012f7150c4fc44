package graft.core

/** One edge of a read window: optional value + inclusivity flag.
  * Mirrors reference onetl/hwm/window.py:9-14. */
final case class Edge(value: Option[Any] = None, including: Boolean = true)

object Edge {
  val unset: Edge = Edge(None, including = true)
  def inclusive(v: Any): Edge = Edge(Some(v), including = true)
  def exclusive(v: Any): Edge = Edge(Some(v), including = false)
}

/** A half-open/closed interval over an expression, driving incremental
  * reads. Mirrors reference onetl/hwm/window.py:16-22. */
final case class Window(expression: String,
                        startFrom: Edge = Edge.unset,
                        stopAt: Edge = Edge.unset)

/** MIN and MAX of `expression` over a window, both inclusive, in the bound
  * HWM's value type. */
final case class Bounds(expression: String, min: Any, max: Any)

/** What a strategy plans for one read: the window to read (None when there
  * is nothing left to read) and the [[Bounds]] of its expression that the
  * planning probed or already knew. A range-partitioned read on that
  * expression takes `bounds` as its partition bounds instead of probing the
  * window again. */
final case class WindowPlan(window: Option[Window], bounds: Option[Bounds] = None)
