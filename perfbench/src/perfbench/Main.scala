package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: start the session, stage the workload
  * `Stagings` times in fresh environments (the last one is kept and
  * warmed up), run a fixed number of jobs
  * one after another with a single client, check every job, and write a
  * raw report (and the spans of the traced jobs) for `perfbench/run.py`
  * to reduce.
  *
  * {{{
  *   perfbench.Main --workload jdbc_incremental --seed 1 --jobs 100 \
  *     --trace 0 --cores 4 --root <scratch dir>
  * }}}
  */
object Main {
  /** Stagings per run; the median of three drops the first, which pays
    * for class loading and JIT compilation. */
  val Stagings = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val jobs = a("jobs").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val root = Paths.get(a("root"))
    System.setProperty("derby.system.home", root.resolve("derby").toString)
    System.setProperty("derby.stream.error.file", root.resolve("derby.log").toString)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val engine = if (trace) Some(new EngineListener) else None
    engine.foreach(spark.sparkContext.addSparkListener)

    var w: Workload = null
    val stageS = ArrayBuffer.empty[Double]
    val setupWrites = ArrayBuffer.empty[Double]
    try {
      for (rep <- 0 until Stagings) {
        if (w != null) w.teardown()
        val dir = Files.createDirectories(root.resolve("work"))
        val s0 = System.nanoTime()
        w = Workload(workload, Ctx(spark, seed, cores, dir, rep))
        setupWrites ++= w.stage()
        stageS += (System.nanoTime() - s0) / 1e9 - w.checkS
      }
      val w0 = System.nanoTime()
      val check0 = w.checkS
      w.warmUp()
      val warmS = (System.nanoTime() - w0) / 1e9 - (w.checkS - check0)

      // the measured loop: a single client, next job only after the last
      val results = ArrayBuffer.empty[JobResult]
      val loop0 = System.nanoTime()
      val gc0 = Jvm.gcMillis
      Jvm.resetPeaks()
      for (j <- 0 until jobs) {
        // the traced run traces every other job, so traced and untraced
        // jobs interleave under the same history and load
        val traced = trace && j % 2 == 1
        Tracer.job = j
        Tracer.enabled = traced
        results += (try w.job(j, traced) catch {
          case e: Exception =>
            JobResult(Double.NaN, None, 0, 0, Some(s"threw ${e.getClass.getName}: ${e.getMessage}"))
        } finally Tracer.enabled = false)
      }
      val gcS = (Jvm.gcMillis - gc0) / 1e3
      val heapPeak = Jvm.heapPeakBytes
      val loopS = (System.nanoTime() - loop0) / 1e9
      val final0 = System.nanoTime()
      val late = w.finalCheck()
      val finalCheckS = (System.nanoTime() - final0) / 1e9
      engine.foreach(_.drain(10000))

      val jobIds = 0 until jobs
      val jobsOut = results.zipWithIndex.map { case (r, j) =>
        val failure = r.failure.orElse(late.get(j))
        Json.obj("job" -> j, "latency_s" -> r.latencyS,
          "src_write_s" -> r.srcWriteS, "rows" -> r.rows, "docs_in" -> r.docsIn,
          "traced" -> (trace && j % 2 == 1), "ok" -> failure.isEmpty,
          "failure" -> failure)
      }
      val setupFailures = late.filter(_._1 < 0)
      require(setupFailures.isEmpty, s"warm-up jobs failed: $setupFailures")
      val engineOut = engine.map { e =>
        Seq("jobs", "stages", "tasks", "executor_run_ms", "shuffle_write_bytes")
          .map(k => k -> e.perJob(jobIds, k))
      }.getOrElse(Nil)
      val report = Json.obj(
        "workload" -> workload, "seed" -> seed, "jobs" -> jobs, "trace" -> trace,
        "cores" -> cores, "session_s" -> sessionS, "stage_s" -> stageS.toSeq, "warm_s" -> warmS,
        "loop_s" -> loopS, "final_check_s" -> finalCheckS,
        "inputs_digest" -> w.inputsDigest,
        "setup_src_write_s" -> setupWrites.toSeq,
        "job_results" -> jobsOut.toSeq,
        "engine" -> Json.obj(engineOut: _*),
        "counters" -> Tracer.counterValues,
        "hwm_store_bytes" -> w.hwmStoreBytes,
        "gc_s" -> gcS, "heap_peak_bytes" -> heapPeak)
      Files.write(root.resolve("report.json"), Json.render(report).getBytes("UTF-8"))
      if (trace) Tracer.writeSpans(root.resolve("spans.jsonl"))
    } finally {
      if (w != null) w.teardown()
      spark.stop()
      try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true").close()
      catch { case _: java.sql.SQLException => } // a clean shutdown reports XJ015
      deleteTree(root.resolve("warehouse"))
      deleteTree(root.resolve("work"))
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
