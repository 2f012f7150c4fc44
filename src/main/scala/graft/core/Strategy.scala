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
  private[core] def enter(): Unit = ()
  /** Called only on clean scope exit (reference hwm_strategy.py:117-119
    * saves the HWM only when the context exits without error). */
  private[core] def exitSuccess(): Unit = ()
}

object Strategy {
  private val stack = new DynamicVariable[Strategy](SnapshotStrategy)
  def current: Strategy = stack.value

  def using[A](s: Strategy)(body: => A): A = stack.withValue(s) {
    s.enter()
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
            case _ => if (WindowMath.lt(cur, HwmCast.align(h, value))) h.withValue(value) else h
          }
        case None => h.withValue(value)
      }
    }
  }

  def saveHwm(): Unit = synchronized { hwm.foreach(store.set) }

  /** Lower window edge from the stored HWM — exclusive
    * (reference hwm_strategy.py:24-31). */
  def startEdge: Edge = hwm.flatMap(_.valueOpt) match {
    case Some(v) => Edge.exclusive(v)
    case None => Edge.unset
  }

  override private[core] def exitSuccess(): Unit = saveHwm()
}

private object HwmCast {
  /** Normalize a raw value (from Spark Row) to the HWM's value domain so
    * comparisons are type-stable. */
  def align(h: Hwm, v: Any): Any = h match {
    case _: IntHwm => HwmValue.toLong(v)
    case _: DecimalHwm => HwmValue.toBigDecimal(v)
    case _: DateHwm => HwmValue.toLocalDate(v)
    case _: DateTimeHwm => HwmValue.toInstant(v)
    case _ => v
  }
}

/** Window `(hwm, max]`; first run reads everything then saves the max.
  * `offset` widens to `(hwm - offset, max]`
  * (reference incremental_strategy.py:405-412). */
final class IncrementalStrategy(val offset: Option[Any] = None,
                                store: HwmStore = HwmStore.current)
  extends HwmStrategy(store) {

  override def startEdge: Edge = (hwm.flatMap(_.valueOpt), offset) match {
    case (Some(v), Some(off)) =>
      Edge.exclusive(WindowMath.add(HwmCast.align(hwm.get, v),
        negate(off)))
    case (Some(v), None) => Edge.exclusive(HwmCast.align(hwm.get, v))
    case (None, _) => Edge.unset
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

  @volatile private[graft] var start: Option[Any] = None
  @volatile private[graft] var stop: Option[Any] = None
  @volatile private[graft] var left: Option[Any] = None
  @volatile private[graft] var initialized = false
  @volatile private[graft] var isFirstBatch = true
  @volatile private[graft] var iterations = 0

  @volatile private[graft] var startExclusive = false

  /** Called by the reader once min/max are known. `exclusiveStart` marks a
    * start seeded from a STORED HWM, whose row was already consumed by the
    * previous run: the reference renders that edge with `>` because
    * `HWMStrategy.current` is exclusive when the HWM is set
    * (hwm_strategy.py:24-31), and `BatchHWMStrategy.current` only falls
    * back to the inclusive `start` when it is not
    * (batch_hwm_strategy.py:98-106). A probed MIN or explicit start stays
    * inclusive. */
  private[graft] def initialize(startV: Any, stopV: Any,
                                exclusiveStart: Boolean = false): Unit =
    synchronized {
      if (!initialized) {
        if (WindowMath.lt(stopV, startV))
          throw new IllegalStateException(s"batch window stop $stopV < start $startV")
        start = Some(startV); stop = Some(stopV); left = Some(startV)
        startExclusive = exclusiveStart
        initialized = true
      }
    }

  private[graft] def currentWindow(expression: String): Window = {
    val l = left.getOrElse(throw new IllegalStateException("batch not initialized"))
    val s = stop.get
    val right = WindowMath.min(WindowMath.add(l, step), s)
    Window(expression,
      startFrom = if (isFirstBatch && !startExclusive) Edge.inclusive(l)
                  else Edge.exclusive(l),
      stopAt = Edge.inclusive(right))
  }

  private[graft] def advance(expression: String): Boolean = synchronized {
    iterations += 1
    if (iterations > MaxIterations)
      throw new IllegalStateException(
        s"batch strategy exceeded $MaxIterations iterations — check step sign/size")
    if (!initialized) return false
    val w = currentWindow(expression)
    // Monotonicity check (reference batch_hwm_strategy.py:111-127).
    if (WindowMath.lt(w.stopAt.value.get, left.get))
      throw new IllegalStateException("batch window is not advancing")
    left = w.stopAt.value
    isFirstBatch = false
    // each completed batch persists the HWM (reference
    // incremental_strategy.py:572-574); a snapshot batch's save is a no-op
    saveHwm()
    !WindowMath.lt(left.get, stop.get) // true = done
  }

  private[graft] def exhausted: Boolean =
    initialized && !WindowMath.lt(left.get, stop.get)

  /** Run `body` once per batch window until the range is covered. */
  def foreachBatch[A](body: => A): Seq[A] = {
    val out = Seq.newBuilder[A]
    var done = false
    while (!done) {
      out += body
      done = if (!initialized) true // reader found empty source: single batch
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
}

object SnapshotBatchStrategy {
  def apply(step: Any, start: Option[Any] = None, stop: Option[Any] = None): SnapshotBatchStrategy =
    new SnapshotBatchStrategy(step, start, stop)
}

/** Step from the stored HWM to max, saving the HWM after each batch
  * (reference incremental_strategy.py:414). */
final class IncrementalBatchStrategy(step: Any,
                                     store: HwmStore = HwmStore.current)
  extends BatchHwmStrategy(step, store)

object IncrementalBatchStrategy {
  def apply(step: Any): IncrementalBatchStrategy = new IncrementalBatchStrategy(step)
}
