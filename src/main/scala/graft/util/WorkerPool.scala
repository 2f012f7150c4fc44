package graft.util

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

/** The library's one bounded worker pool: the file operators' transfers
  * (reference file_downloader.py:795-828 uses a ThreadPoolExecutor(workers))
  * and the recipe's index appends run on it. A call returns only once
  * every task has finished, so no task of a failed call still runs when
  * its caller retries. */
private[graft] object WorkerPool {
  /** Run `f` over `items` on at most `workers` threads; one outcome per
    * item, in order. */
  def run[A, B](items: Seq[A], workers: Int)(f: A => B): Seq[Try[B]] = {
    require(workers >= 1, "workers must be >= 1")
    if (items.isEmpty) return Nil
    val pool = Executors.newFixedThreadPool(math.min(workers, items.size))
    try pool.invokeAll(items.map(a => (() => f(a)): Callable[B]).asJava).asScala.toSeq
      .map(r => Try(r.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
    finally pool.shutdown()
  }

  /** [[run]], then the first failure rethrown, the others attached to it
    * as suppressed. */
  def runAll[A, B](items: Seq[A], workers: Int)(f: A => B): Seq[B] = {
    val outcomes = run(items, workers)(f)
    outcomes.collect { case Failure(t) => t } match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ => outcomes.map(_.get)
    }
  }
}
