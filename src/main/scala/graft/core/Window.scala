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
