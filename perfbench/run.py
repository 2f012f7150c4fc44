#!/usr/bin/env python3
"""Run one workload of the graft EL-job benchmark and print its metrics.

    python3 perfbench/run.py --workload jdbc_incremental --seed 7 \
        --seconds 10 --trace 0

Builds the library and the harness from source (perfbench/build.py), runs
the workload in a fresh JVM with its own scratch directory, checks every
job's output, prints each metric as `<name> = <value> <unit>` and, as the
last line, one JSON object {correct, attempted, failed, metrics}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 every other
job runs with layer decorators and the metrics are the per-layer ones.
Exits non-zero if any job failed or its output was wrong. See RATIONALE.md.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import build  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent

# Jobs per run at REFERENCE_SECONDS. The count scales with --seconds but
# never with the clock: per-job cost grows with history in the incremental
# workloads, so a time-boxed run would change what is measured.
# BENCHMARK.json gates the last two; jdbc_snapshot runs on request.
REFERENCE_SECONDS = 10
JOBS = {"jdbc_snapshot": 10, "jdbc_incremental": 60, "curation_ingest": 4}

END_TO_END = [("setup_s", "s"), ("job_p50_s", "s"), ("rows_per_s", "rows/s")]

# (name, unit); the per-layer record of a traced run.
PER_LAYER = [
    ("connections.minmax_calls", "count"), ("connections.minmax_s", "s"),
    ("connections.schema_probe_calls", "count"), ("connections.schema_probe_s", "s"),
    ("connections.read_plan_s", "s"),
    ("connections.write_calls", "count"), ("connections.write_s", "s"),
    ("core.hwm_get_calls", "count"), ("core.hwm_get_s", "s"),
    ("core.hwm_set_calls", "count"), ("core.hwm_set_s", "s"),
    ("core.hwm_store_bytes", "B"),
    ("operators.dbreader_run_s", "s"), ("operators.dbwriter_run_s", "s"),
    ("operators.dbwriter_rows", "rows"), ("operators.dbwriter_bytes", "B"),
    ("operators.dedup_exact_s", "s"), ("operators.dedup_near_s", "s"),
    ("operators.index_append_s", "s"), ("operators.dedup_in_rows", "rows"),
    ("operators.dedup_kept_frac", "frac"),
    ("files.list_calls", "count"), ("files.list_s", "s"),
    ("files.stat_calls", "count"), ("files.stat_s", "s"),
    ("files.download_calls", "count"), ("files.download_s", "s"),
    ("files.download_bytes", "B"), ("files.downloader_run_s", "s"),
    ("files.new_file_frac", "frac"),
    ("filedf.read_plan_s", "s"), ("filedf.write_calls", "count"), ("filedf.write_s", "s"),
    ("spark.jobs_per_op", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.shuffle_write_bytes", "B"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("self.connections_s", "s"), ("self.core_s", "s"), ("self.operators_s", "s"),
    ("self.files_s", "s"), ("self.filedf_s", "s"), ("self.unattributed_s", "s"),
    ("trace.accounted_frac", "frac"), ("trace.overhead_s", "s"),
]

# graft modules (src/main/scala/graft/*) the traced spans are named after
LAYERS = ("connections", "core", "operators", "files", "filedf")

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# One run must exit within 180 s once built; leave room to reduce and clean up.
JVM_TIMEOUT_S = 170


def cores():
    """Local cores for local[N], shuffle partitions, JDBC partitions and
    downloader workers; capped so a large host keeps the run's memory small."""
    return max(1, min(len(os.sched_getaffinity(0)), 8))


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, or None where the kernel
    does not report them. Steal is time a virtual machine's CPUs waited
    for the host; a run with much of it measured a slower machine."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return ticks[7], sum(ticks)


def run_jvm(classes, args, workdir, deadline):
    tmp = workdir / "tmp"  # Spark and its native libraries unpack here
    tmp.mkdir()
    cmd = ["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(classes), str(build.spark_jars() / "*")]),
            "perfbench.Main"] + args
    with open(workdir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=workdir)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM did not finish within {JVM_TIMEOUT_S} s")
        except BaseException:  # interrupted or terminated: never leave the JVM behind
            proc.kill()
            proc.wait()
            raise
    if proc.returncode != 0:
        tail = (workdir / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"JVM exited with {proc.returncode}:\n{tail}")


def end_to_end(report):
    """The end-to-end metrics, plus the ones only some workloads have
    (with their units): the latency tail, the source-write time and the
    failed fraction."""
    jobs = report["job_results"]
    lat = stats.latencies(jobs)
    ok = [j for j in jobs if j["ok"]]
    busy = sum(j["latency_s"] for j in ok)
    out = {
        "setup_s": report["session_s"] + stats.median(report["stage_s"]) + report["warm_s"],
        "job_p50_s": stats.median(lat),
        "rows_per_s": sum(j["rows"] for j in ok) / busy if busy > 0 else math.nan,
    }
    attempted, failed = stats.failures(jobs)
    out["ops_failed_frac"] = failed / attempted
    extra = {"ops_failed_frac": "frac"}
    tail = stats.tail_percentile(lat)
    if tail:
        pct, value, n = tail
        name = f"job_p{pct:g}_s"
        out[name] = value
        extra[name] = f"s (n={n}, {stats.MIN_BEYOND} beyond)"
    # per-job source writes where the workload has them, else the seeding
    # write of each set-up
    src = [j["src_write_s"] for j in jobs if j["src_write_s"] is not None]
    src = src or report["setup_src_write_s"]
    if src:
        out["src_write_p50_s"] = stats.median(src)
        extra["src_write_p50_s"] = f"s (n={len(src)})"
    return out, extra


def per_layer(report, spans):
    jobs = report["job_results"]
    traced = [j for j in jobs if j["traced"]]
    untraced = [j for j in jobs if not j["traced"]]
    n = max(1, len(traced))
    totals = stats.span_totals(spans)
    counters = report["counters"]

    def calls(name):
        return totals.get(name, (0, 0.0))[0] / n

    def secs(name):
        return totals.get(name, (0, 0.0))[1] / n

    # calls and seconds of the span of the same name, per traced job
    out = {}
    for name, _ in PER_LAYER:
        if name.split(".")[0] not in LAYERS:
            continue
        if name.endswith("_calls"):
            out[name] = calls(name[:-len("_calls")])
        elif name.endswith("_s"):
            out[name] = secs(name[:-len("_s")])
    out["core.hwm_store_bytes"] = report["hwm_store_bytes"]
    out["operators.dbwriter_rows"] = counters.get("operators.dbwriter_rows", 0) / n
    out["operators.dbwriter_bytes"] = counters.get("operators.dbwriter_bytes", 0) / n
    docs_in = sum(j["docs_in"] for j in jobs)
    out["operators.dedup_in_rows"] = docs_in / len(jobs)
    out["operators.dedup_kept_frac"] = (
        sum(j["rows"] for j in jobs) / docs_in if docs_in else 0.0)
    out["files.download_bytes"] = counters.get("files.download_bytes", 0) / n
    listed = counters.get("files.listed_files", 0)
    out["files.new_file_frac"] = totals.get("files.download", (0, 0))[0] / listed if listed else 0.0

    engine = report["engine"]
    per_job = {k: stats.median(v) if v else 0.0 for k, v in engine.items()}
    out["spark.jobs_per_op"] = per_job.get("jobs", 0.0)
    out["spark.stages"] = per_job.get("stages", 0.0)
    out["spark.tasks"] = per_job.get("tasks", 0.0)
    out["spark.executor_run_s"] = per_job.get("executor_run_ms", 0.0) / 1e3
    out["spark.shuffle_write_bytes"] = per_job.get("shuffle_write_bytes", 0.0)
    out["jvm.gc_s"] = report["gc_s"]
    out["jvm.heap_peak_mb"] = report["heap_peak_bytes"] / 2**20

    job_spans = stats.descendants(spans, "job")
    self_s = stats.layer_self_seconds(job_spans)
    for layer in LAYERS:
        out[f"self.{layer}_s"] = self_s.get(layer, 0.0) / n
    roots = [s for s in job_spans if s["name"] == "job"]
    wall = sum(s["end_ns"] - s["start_ns"] for s in roots) / 1e9
    unattributed = self_s.get("job", 0.0)
    out["self.unattributed_s"] = unattributed / n
    out["trace.accounted_frac"] = 1 - unattributed / wall if wall else 0.0
    out["trace.overhead_s"] = (stats.median(stats.latencies(traced))
                               - stats.median(stats.latencies(untraced)))
    return out


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(JOBS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=REFERENCE_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    jobs = max(1, round(JOBS[a.workload] * a.seconds / REFERENCE_SECONDS))
    if a.trace and jobs < 2:
        jobs = 2  # a traced run compares traced with untraced jobs
    deadline = time.monotonic() + JVM_TIMEOUT_S
    workdir = ROOT / ".bench_run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)
    ticks0 = cpu_ticks()
    try:
        run_jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                          "--jobs", str(jobs), "--trace", str(a.trace),
                          "--cores", str(cores()), "--root", str(workdir)],
                workdir, deadline)
        report = json.loads((workdir / "report.json").read_text())
        spans = []
        if a.trace:
            with open(workdir / "spans.jsonl") as f:
                spans = [json.loads(line) for line in f]
    except (RuntimeError, OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    attempted, failed = stats.failures(report["job_results"])
    for j in report["job_results"]:
        if not j["ok"]:
            print(f"job {j['job']} failed: {j['failure']}", file=sys.stderr)
    if a.trace:
        metrics, units = per_layer(report, spans), dict(PER_LAYER)
    else:
        metrics, extra_units = end_to_end(report)
        units = dict(END_TO_END, **extra_units)
    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    print(f"jobs = {attempted} (cores {report['cores']}, seed {a.seed}); session "
          f"{report['session_s']:.1f} s, stages {[round(s, 1) for s in report['stage_s']]} s, "
          f"warm-up {report['warm_s']:.1f} s, measured loop {report['loop_s']:.1f} s, "
          f"final check {report['final_check_s']:.1f} s")
    print(f"inputs_digest = {report['inputs_digest']}")
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        steal = 100 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
        print(f"host_steal = {steal:.1f} % of CPU time during the run")
    wanted = PER_LAYER if a.trace else END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name] if math.isfinite(metrics[name]) else None,
                           "unit": unit} for name, unit in wanted},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
