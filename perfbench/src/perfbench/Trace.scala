package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** One timed call across a layer boundary. `parent` is 0 for a root span;
  * `job` is the benchmark job the call ran for (-1 during set-up). */
final case class Span(id: Long, parent: Long, name: String, job: Int,
                      startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run.
  *
  * Spans are kept in memory and written once when the run ends, so the
  * traced jobs pay only a clock read and a queue append per boundary. The
  * parent of a span is the innermost open span on the calling thread; the
  * stack is an immutable list in an inheritable thread-local, so the
  * transfer pool threads the downloader creates inside a traced call start
  * with that call as their parent. */
object Tracer {
  /** Whether the current job records spans; the client flips it per job. */
  @volatile var enabled: Boolean = false
  /** Benchmark job the client is running; read by every recorded span. */
  @volatile var job: Int = -1

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()
  private val stack = new InheritableThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, job, t0, t1))
      }
    }

  /** Add to a named per-run counter (bytes, rows, files) while tracing. */
  def count(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name,
      _ => new java.util.concurrent.atomic.DoubleAdder).add(v)

  def counterValues: Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum }.toMap

  /** Write every recorded span as one JSON object per line. */
  def writeSpans(path: Path): Unit = {
    val w = Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(Json.render(Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "job" -> s.job,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      w.newLine()
    } finally w.close()
  }
}

/** JSON for the report, the spans and the generated documents, written
  * by Jackson. Scala options, maps and sequences become Java values; a NaN
  * or infinite double becomes null. */
object Json {
  private val mapper = new ObjectMapper()

  /** An object with its fields in the given order. */
  def obj(fields: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => m.put(k, toJava(v)) }
    m
  }

  def render(v: Any): String = mapper.writeValueAsString(toJava(v))

  private def toJava(v: Any): Any = v match {
    case None => null
    case Some(x) => toJava(x)
    case d: Double if d.isNaN || d.isInfinite => null
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(toJava).asJava
    case other => other
  }
}
