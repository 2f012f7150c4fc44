package graft.operators

import graft.core._
import graft.connections.DbConnection
import org.apache.spark.GraftSparkBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** HWM column request: expression + optional qualified name
  * (the reference's AutoDetectHWM, onetl/hwm/auto_hwm.py:15 — the concrete
  * HWM type is detected from the source schema). */
final case class HwmColumn(expression: String, name: Option[String] = None) {
  def qualifiedName(source: String): String =
    name.getOrElse(s"$source.$expression")
}

/** Plan + execute the read of one table/collection/topic into a DataFrame,
  * windowed by the active [[graft.core.Strategy]].
  *
  * Port of the reference's DBReader semantics (onetl/db/db_reader/
  * db_reader.py:52,550-794). The active strategy plans the window
  * (`HwmStrategy.nextWindow`); the reader pushes it to the source:
  *
  *  - start/stop both known → no MIN/MAX probe (db_reader.py:728-731);
  *  - MIN/MAX fetched with both edges INCLUSIVE; `>` vs `>=` applied only in
  *    the final dataframe query (db_reader.py:741-746);
  *  - nothing to read (empty source, covered batch range) → `limit=0` so an
  *    *empty* frame (not an unfiltered one) returns (db_reader.py:752-756);
  *  - IncrementalStrategy pins `stop_at` to the observed max so the HWM
  *    matches dataframe content even if rows arrive mid-read (:786-792);
  *  - HWM is updated with the window stop *before* the lazy read executes
  *    (:592-595) — intentional eager-update semantics;
  *  - `hasData` checks the same window `run()` reads next;
  *  - HWM without a HwmStrategy (and vice versa) is a usage error
  *    (:611-624).
  */
final case class DbReader(connection: DbConnection,
                          source: String,
                          columns: Seq[String] = Nil,
                          where: Seq[String] = Nil,
                          hint: Option[String] = None,
                          dfSchema: Option[StructType] = None,
                          hwm: Option[HwmColumn] = None) {

  def run(): DataFrame =
    graft.util.SparkUtils.withJobDescription(connection.spark,
      s"${connection.getClass.getSimpleName} -> DbReader.run($source)") {
      graft.hooks.GraftListeners.fireBeforeRead(source)
      val strategy = checkStrategy()
      val planned = strategy.map(nextWindow(_))
      for {
        s <- strategy
        w <- planned.flatten
        stop <- w.stopAt.value
      } s.updateHwm(stop)
      val limit = if (planned.contains(None)) Some(0) else None
      graft.hooks.GraftListeners.fireAfterRead(source, read(planned.flatten, limit))
    }

  /** Single-pass incremental read: capture the HWM with a Spark
    * [[org.apache.spark.sql.Observation]] on the SAME job that materializes
    * the frame, instead of the reference's separate MIN/MAX pre-query
    * (db_reader.py:739-746 + jdbc_connection/connection.py:278-318 — two
    * scans of the source per run).
    *
    * Semantics difference, deliberately: the saved HWM is the max over the
    * rows the action actually processed (exactly-processed watermark), not
    * a max probed before the read — so rows arriving mid-read are picked up
    * by the NEXT run rather than silently skipped, and the source is
    * scanned once. The reference approximates this by pinning stop to the
    * probed max; with an observation no pinning is needed.
    *
    * `action` must FULLY materialize the frame it is given (count, write,
    * full collect). A partial action — `limit`/`take`/`head` — is unsafe
    * here: the observation sees only the rows that flowed through it, so
    * the HWM would advance to the max of an arbitrary subset and every
    * unprocessed row below it would fall out of all future windows. If the
    * action materializes nothing, the HWM is left unchanged. Requires an
    * [[IncrementalStrategy]] scope. */
  def runObservingHwm[A](action: DataFrame => A): A =
    graft.util.SparkUtils.withJobDescription(connection.spark,
      s"${connection.getClass.getSimpleName} -> DbReader.runObservingHwm($source)") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{expr => sexpr, max}
    val strategy = checkStrategy()
    val inc = strategy match {
      case Some(s: IncrementalStrategy) => s
      case _ => throw new IllegalArgumentException(
        "runObservingHwm requires an IncrementalStrategy scope")
    }
    graft.hooks.GraftListeners.fireBeforeRead(source)
    val col = hwm.get
    bindHwm(inc)
    val window = Window(col.expression, startFrom = inc.startEdge)
    val obs = Observation(s"graft_hwm_${source}_${col.expression}")
    val df = graft.hooks.GraftListeners
      .fireAfterRead(source, read(Some(window), None))
      .observe(obs, max(sexpr(col.expression)).as("max"))
    val result = action(df)
    // the observation arrives through the async listener bus; once the
    // bus is drained, an observation still missing means the action ran
    // no query over the frame
    val drained =
      try { GraftSparkBridge.waitListenerBus(connection.spark.sparkContext, 30000L); true }
      catch { case _: java.util.concurrent.TimeoutException => false }
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    obs.future.value match {
      case Some(observed) => Option(observed.get.getAs[Any]("max")).foreach(inc.updateHwm)
      case None if drained =>
        log.info(s"the action ran no query over $source — HWM for " +
          s"${col.expression} left unchanged")
      case None =>
        // a late listener event is NOT the same as "no rows ran" — be
        // loud, because a stale HWM means the next run re-reads rows
        log.warn(s"observation for $source.${col.expression} not " +
          "delivered within 30s (listener bus busy) — HWM left unchanged; " +
          "the next incremental run will re-read this window")
    }
    result
  }

  /** `LIMIT 1` existence probe under the window `run()` reads next
    * (reference db_reader.py:452-512: limit=1 then take(1)); finding that
    * window may take a MIN/MAX probe, which this reader's next `run()`
    * reuses. */
  def hasData: Boolean = checkStrategy().map(nextWindow(_, keep = true)) match {
    case Some(None) => false // the strategy has nothing left to read
    case planned => read(planned.flatten, Some(1)).take(1).nonEmpty
  }

  def raiseIfNoData(): Unit =
    if (!hasData) throw new IllegalStateException(
      s"no data in source $source under the current window")

  private def read(window: Option[Window], limit: Option[Int]): DataFrame =
    connection.readSourceAsDf(
      source = source,
      columns = columns,
      where = connection.dialect.applyWindow(where, window),
      hint = hint,
      limit = limit,
      dfSchema = dfSchema)

  private def checkStrategy(): Option[HwmStrategy] = Strategy.current match {
    case s: HwmStrategy =>
      require(hwm.nonEmpty,
        s"${s.getClass.getSimpleName} cannot be used without DbReader(hwm=...)")
      Some(s)
    case _ =>
      require(hwm.isEmpty,
        "DbReader(hwm=...) requires an Incremental/Batch strategy scope — " +
          "wrap the run in Strategy.using(IncrementalStrategy()) { ... }")
      None
  }

  /** Bind `s` to this reader's HWM. A strategy already bound to it (a
    * later batch window, or `run()` after `hasData`) costs nothing; an
    * unbound one gets the HWM type detected from the source schema, one
    * LIMIT-0 probe per strategy scope. */
  private def bindHwm(s: HwmStrategy): Unit = {
    val col = hwm.get
    val name = col.qualifiedName(source)
    if (!s.hwm.exists(_.name == name))
      s.fetchHwm(connection.dialect.detectHwmClass(name, source, col.expression,
        connection.getDfSchema(source, Seq(col.expression)).fields.head))
  }

  /** The window `s` plans next, after binding it to this reader's HWM;
    * `keep` hands the plan to this reader's next `run()`. */
  private def nextWindow(s: HwmStrategy, keep: Boolean = false): Option[Window] = {
    bindHwm(s)
    s.nextWindow(this, hwm.get.expression, minMax, keep)
  }

  private def minMax(window: Window): (Option[Any], Option[Any]) =
    connection.getMinMaxValues(source, hwm.get.expression,
      connection.dialect.applyWindow(where, Some(window)))
}
