package graft.core

import java.time.{Duration, Instant, LocalDate}
import scala.util.DynamicVariable

/** Arithmetic over HWM values for window stepping.
  * Mirrors reference batch_hwm_strategy.py:129-146 (`next = min(current +
  * step, stop)`) with a typeclass-style dispatch instead of Python duck
  * typing: integral+Long, decimal+BigDecimal, date+days, timestamp+Duration.
  */
object WindowMath {
  def add(v: Any, step: Any): Any = (v, step) match {
    case (l: Long, s: Long) => l + s
    case (l: Long, s: Int) => l + s
    case (d: BigDecimal, s: BigDecimal) => d + s
    case (d: BigDecimal, s: Long) => d + BigDecimal(s)
    case (d: BigDecimal, s: Int) => d + BigDecimal(s)
    case (d: LocalDate, s: Long) => d.plusDays(s)
    case (d: LocalDate, s: Int) => d.plusDays(s.toLong)
    case (d: LocalDate, s: Duration) => d.plusDays(s.toDays)
    case (t: Instant, s: Duration) => t.plus(s)
    case (t: Instant, s: Long) => t.plusSeconds(s)
    case _ => throw new IllegalArgumentException(
      s"cannot step HWM value ${v.getClass.getSimpleName} by ${step.getClass.getSimpleName}")
  }

  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Long, y: Int) => java.lang.Long.compare(x, y.toLong)
    case (x: BigDecimal, y: BigDecimal) => x.compare(y)
    case (x: BigDecimal, y: Long) => x.compare(BigDecimal(y))
    case (x: LocalDate, y: LocalDate) => x.compareTo(y)
    case (x: Instant, y: Instant) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"cannot compare ${a.getClass.getSimpleName} with ${b.getClass.getSimpleName}")
  }

  def lt(a: Any, b: Any): Boolean = compare(a, b) < 0
  def min(a: Any, b: Any): Any = if (compare(a, b) <= 0) a else b
  def max(a: Any, b: Any): Any = if (compare(a, b) >= 0) a else b
}

/** Read strategies — the incremental-read state machine.
  *
  * Mirrors reference onetl/strategy/: SnapshotStrategy
  * (snapshot_strategy.py:13), IncrementalStrategy
  * (incremental_strategy.py:13), SnapshotBatchStrategy
  * (snapshot_strategy.py:96), IncrementalBatchStrategy
  * (incremental_strategy.py:414), with the class-level thread-unsafe stack
  * of strategy_manager.py:14-36 replaced by a [[DynamicVariable]] loan
  * pattern (`Strategy.using(s) { ... }`) — thread-safe and scope-exact.
  */
sealed trait Strategy {
  /** Called only on clean scope exit (reference hwm_strategy.py:117-119
    * saves the HWM only when the context exits without error). */
  private[core] def exitSuccess(): Unit = ()
}

object Strategy {
  private val stack = new DynamicVariable[Strategy](SnapshotStrategy)
  def current: Strategy = stack.value

  def using[A](s: Strategy)(body: => A): A = stack.withValue(s) {
    val result = body
    s.exitSuccess()
    result
  }
}

/** Full read, no window. Default strategy (reference strategy_manager.py:15). */
case object SnapshotStrategy extends Strategy

/** Base for HWM-carrying strategies (reference hwm_strategy.py:21). */
sealed abstract class HwmStrategy(val store: HwmStore) extends Strategy {
  @volatile private[graft] var hwm: Option[Hwm] = None

  /** First reader touch: adopt the reader's HWM template, hydrating the
    * stored value if present (reference hwm_strategy.py:38-71). Also
    * enforces single-HWM-per-strategy (reference db_reader.py:636-663). */
  def fetchHwm(template: Hwm): Hwm = synchronized {
    hwm match {
      case Some(existing) if existing.name != template.name =>
        throw new IllegalStateException(
          s"strategy already bound to HWM '${existing.name}'; cannot also " +
            s"serve '${template.name}' — use one strategy scope per HWM")
      case Some(existing) => existing
      case None =>
        val loaded = store.get(template.name) match {
          case Some(stored) if stored.getClass != template.getClass =>
            throw new IllegalStateException(
              s"stored HWM '${template.name}' has type " +
                s"${stored.getClass.getSimpleName} but reader expects " +
                s"${template.getClass.getSimpleName}")
          case Some(stored) => stored
          case None => template
        }
        hwm = Some(loaded)
        loaded
    }
  }

  /** Raise-only update; reader calls this eagerly with the window stop
    * BEFORE executing the lazy read (reference db_reader.py:592-595). */
  def updateHwm(value: Any): Unit = synchronized {
    hwm = hwm.map { h =>
      h.valueOpt match {
        case Some(cur) =>
          h match {
            case _: FileListHwm | _: FileMTimeHwm | _: KeyValueIntHwm => h.withValue(value)
            case _ => if (WindowMath.lt(cur, align(value))) h.withValue(value) else h
          }
        case None => h.withValue(value)
      }
    }
  }

  /** The HWM this strategy last saved. */
  @volatile private var saved: Option[Hwm] = None

  /** Save the bound HWM, unless it equals the one this strategy last
    * saved: a downloader's own save followed by its scope's exit save,
    * or a batch loop's last `advance` followed by the exit save, writes
    * one record, not two. */
  def saveHwm(): Unit = synchronized {
    hwm.filterNot(saved.contains).foreach { h => store.set(h); saved = Some(h) }
  }

  /** Lower window edge from the stored HWM — exclusive
    * (reference hwm_strategy.py:24-31). */
  def startEdge: Edge = hwm.flatMap(_.valueOpt) match {
    case Some(v) => Edge.exclusive(v)
    case None => Edge.unset
  }

  /** The window the reader reads next over `expression`, or None when
    * there is nothing to read (reference db_reader.py:718-794). `probe`
    * returns the source's MIN/MAX of `expression` inside a window whose
    * edges are both inclusive; `>` vs `>=` applies only to the returned
    * window (db_reader.py:741-746). Call after [[fetchHwm]].
    *
    * `reader` names the query the window is for. A look-ahead (`hasData`)
    * passes `keep`, and its plan is handed, once, to the next call for an
    * equal `reader` from the same start edge, so `hasData` then `run()`
    * probe once; every other call plans afresh. */
  private[graft] def nextWindow(reader: Any, expression: String,
                                probe: Window => (Option[Any], Option[Any]),
                                keep: Boolean): Option[Window]

  /** `v` (a Spark row value or a user literal) in the bound HWM's value
    * type — the conversion its `withValue` applies. */
  protected def align(v: Any): Any = hwm.get.withValue(v).valueOpt.get

  override private[core] def exitSuccess(): Unit = saveHwm()
}

/** Window `(hwm, max]`; first run reads everything then saves the max.
  * `offset` widens to `(hwm - offset, max]`
  * (reference incremental_strategy.py:405-412). */
final class IncrementalStrategy(val offset: Option[Any] = None,
                                store: HwmStore = HwmStore.current)
  extends HwmStrategy(store) {

  override def startEdge: Edge = (hwm.flatMap(_.valueOpt), offset) match {
    case (Some(v), Some(off)) => Edge.exclusive(WindowMath.add(v, negate(off)))
    case (Some(v), None) => Edge.exclusive(v)
    case (None, _) => Edge.unset
  }

  /** The plan a look-ahead kept: its reader, start edge and window. */
  @volatile private var kept: Option[(Any, Edge, Option[Window])] = None

  /** `(startEdge, max]`, with `max` probed from the inclusive start so the
    * HWM matches the frame even if rows arrive mid-read
    * (db_reader.py:786-792). */
  private[graft] def nextWindow(reader: Any, expression: String,
                                probe: Window => (Option[Any], Option[Any]),
                                keep: Boolean): Option[Window] =
    synchronized {
      val start = startEdge
      val taken = if (keep) None else kept.collect { case (`reader`, `start`, w) => w }
      val w = taken.getOrElse(probe(Window(expression, Edge(start.value)))._2
        .map(mx => Window(expression, start, Edge.inclusive(align(mx)))))
      kept = if (keep) Some((reader, start, w)) else None
      w
    }

  private def negate(step: Any): Any = step match {
    case l: Long => -l
    case i: Int => -i
    case d: BigDecimal => -d
    case d: Duration => d.negated()
    case other => throw new IllegalArgumentException(s"cannot negate offset $other")
  }
}

object IncrementalStrategy {
  def apply(): IncrementalStrategy = new IncrementalStrategy()
  def apply(offset: Any): IncrementalStrategy = new IncrementalStrategy(Some(offset))
}

/** Base for stepping strategies (reference batch_hwm_strategy.py:20).
  * Iterate with `foreachBatch`/`mapBatches`; each iteration moves the
  * window `(prev, min(prev+step, stop)]`, first window `[start, ...]`. */
sealed abstract class BatchHwmStrategy(val step: Any, store: HwmStore)
  extends HwmStrategy(store) {

  /** Runaway guard (reference batch_hwm_strategy.py:28). */
  val MaxIterations = 100

  /** End of the range; None until the range is seeded. */
  @volatile private var stop: Option[Any] = None
  /** Start edge of the next window; None before seeding and once the
    * range is covered. */
  @volatile private var next: Option[Edge] = None
  @volatile private[graft] var iterations = 0

  /** The range's first edge as far as the strategy itself knows it;
    * an unset value is probed as the source MIN. */
  protected def firstEdge: Edge
  /** The range's end as far as the strategy itself knows it; None is
    * probed as the source MAX. */
  protected def lastValue: Option[Any]

  /** Seed the range `startV .. stopV`. `exclusiveStart` marks a start
    * seeded from a STORED HWM, whose row was already consumed by the
    * previous run: the reference renders that edge with `>` because
    * `HWMStrategy.current` is exclusive when the HWM is set
    * (hwm_strategy.py:24-31), and `BatchHWMStrategy.current` only falls
    * back to the inclusive `start` when it is not
    * (batch_hwm_strategy.py:98-106). A probed MIN or explicit start stays
    * inclusive. An exclusive start at or past `stopV` seeds a range with
    * no window: the stored HWM already covers the source. Later calls are
    * no-ops. */
  private[graft] def initialize(startV: Any, stopV: Any,
                                exclusiveStart: Boolean = false): Unit =
    synchronized {
      if (stop.isEmpty) {
        val covered = exclusiveStart && !WindowMath.lt(startV, stopV)
        if (!covered && WindowMath.lt(stopV, startV))
          throw new IllegalStateException(s"batch window stop $stopV < start $startV")
        stop = Some(stopV)
        next = if (covered) None else Some(Edge(Some(startV), including = !exclusiveStart))
      }
    }

  private[graft] def currentWindow(expression: String): Window = {
    val from = next.getOrElse(throw new IllegalStateException(
      "no batch window: range not seeded or already covered"))
    Window(expression, from,
      Edge.inclusive(WindowMath.min(WindowMath.add(from.value.get, step), stop.get)))
  }

  /** Seeds the range on the first call — probing only the edges
    * [[firstEdge]]/[[lastValue]] leave unset; an empty source leaves it
    * unseeded — then returns the current window until the range is
    * covered. The range is seeded once per scope, so a look-ahead needs
    * no kept plan. */
  private[graft] def nextWindow(reader: Any, expression: String,
                                probe: Window => (Option[Any], Option[Any]),
                                keep: Boolean): Option[Window] =
    synchronized {
      if (stop.isEmpty) {
        val first = firstEdge
        val range = (first.value, lastValue) match {
          case (Some(s), Some(e)) => Some((s, e))
          case (s, e) => probe(Window(expression, Edge(s), Edge(e))) match {
            case (Some(mn), Some(mx)) => Some((s.getOrElse(align(mn)), e.getOrElse(align(mx))))
            case _ => None
          }
        }
        range.foreach { case (s, e) => initialize(s, e, exclusiveStart = !first.including) }
      }
      next.map(_ => currentWindow(expression))
    }

  /** Move past the current window; true once the range is covered. */
  private[graft] def advance(expression: String): Boolean = synchronized {
    iterations += 1
    if (iterations > MaxIterations)
      throw new IllegalStateException(
        s"batch strategy exceeded $MaxIterations iterations — check step sign/size")
    if (stop.isEmpty) return false
    next.foreach { from =>
      val right = currentWindow(expression).stopAt.value.get
      // Monotonicity check (reference batch_hwm_strategy.py:111-127).
      if (WindowMath.lt(right, from.value.get))
        throw new IllegalStateException("batch window is not advancing")
      next = if (WindowMath.lt(right, stop.get)) Some(Edge.exclusive(right)) else None
    }
    // each completed batch persists the HWM (reference
    // incremental_strategy.py:572-574); a snapshot batch's save is a no-op
    saveHwm()
    next.isEmpty
  }

  /** Run `body` once per batch window until the range is covered. */
  def foreachBatch[A](body: => A): Seq[A] = {
    val out = Seq.newBuilder[A]
    var done = false
    while (!done) {
      out += body
      done = if (stop.isEmpty) true // reader found empty source: single batch
             else advance(hwm.map(_.expression).getOrElse(""))
    }
    out.result()
  }
}

/** Step over `[start, stop]` ignoring and not saving the stored HWM
  * (reference snapshot_strategy.py:96-387). */
final class SnapshotBatchStrategy(step: Any,
                                  val explicitStart: Option[Any] = None,
                                  val explicitStop: Option[Any] = None,
                                  store: HwmStore = HwmStore.current)
  extends BatchHwmStrategy(step, store) {
  override def saveHwm(): Unit = () // never persists (snapshot_strategy.py:96)
  protected def firstEdge: Edge = Edge(explicitStart.map(align))
  protected def lastValue: Option[Any] = explicitStop.map(align)
}

object SnapshotBatchStrategy {
  def apply(step: Any, start: Option[Any] = None, stop: Option[Any] = None): SnapshotBatchStrategy =
    new SnapshotBatchStrategy(step, start, stop)
}

/** Step from the stored HWM to max, saving the HWM after each batch
  * (reference incremental_strategy.py:414). */
final class IncrementalBatchStrategy(step: Any,
                                     store: HwmStore = HwmStore.current)
  extends BatchHwmStrategy(step, store) {
  protected def firstEdge: Edge = startEdge
  protected def lastValue: Option[Any] = None
}

object IncrementalBatchStrategy {
  def apply(step: Any): IncrementalBatchStrategy = new IncrementalBatchStrategy(step)
}
