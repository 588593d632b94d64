#!/usr/bin/env python3
"""Lifecycle benchmark for tsatool_app_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 1 --trace 0

Workloads: lifecycle, corpus_board (see perfbench/README.md).
The run generates its inputs from the seed and computes the oracle answers
(untimed), sets up twice, each time on a freshly launched JVM (the
reported set-up time is the median), then runs operations on the last
session in one closed loop for ``--seconds`` and checks every op's outputs.
The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
span counters (see spans.py).  The line before it holds the details that are
not gated (workload-specific throughputs, memory, calibration anchors).
Everything is written under ``.perfbench_run/`` in the working directory.
The exit code is 0 only when every op's outputs were correct.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Pin cores, memory, scratch and time zone before any JVM starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        # temp files inside the run directory; no perf-data file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep a whole op's jobs/stages in the status store until read
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "2000",
    }


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def reset_peak_rss() -> None:
    """Restart this process's VmHWM count, so input generation and the
    oracles do not show in the measured peak (Linux 4.0+; best effort)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def calibration_anchor(spark) -> dict:
    """Fixed-work machine-speed anchor (the bench.py idea): best-of-2 of a
    deterministic in-JVM Spark aggregate and the same-shape DuckDB query.
    Provenance only, not a metric."""
    import duckdb

    def best(fn):
        out = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            out = dt if out is None else min(out, dt)
        return out

    spark_s = best(
        lambda: spark.range(0, 20_000_000, 1, 8).selectExpr("avg(xxhash64(id))").collect()
    )
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    duck_s = best(lambda: con.sql("SELECT sum(i * 2654435761) FROM range(20000000) t(i)").fetchall())
    con.close()
    return {"spark_s": round(spark_s, 4), "duckdb_s": round(duck_s, 4)}


class Spans:
    """Tracing switch: a real Tracer under --trace 1, else free no-ops."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.tracer = None

    def attach(self, spark):
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer(spark)

    def span(self, name):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def harvest(self) -> list[dict]:
        return self.tracer.collect() if self.tracer else []


def install_patches(spans: Spans) -> None:
    """Wrap the public layer functions in spans (only under --trace 1).
    Module attributes are replaced, so callers that look them up at call
    time - the CLI, the workloads - go through the span."""
    from tsatool_app_spark import cli, reports, runner
    from tsatool_app_spark.sources import csv_ingest, metadata, workbook

    def wrap(name, fn):
        def traced(*a, **k):
            with spans.span(name):
                return fn(*a, **k)

        return traced

    for mod, attr, name in (
        (metadata, "read_metadata_csv", "sources.metadata.read"),
        (metadata, "sensor_name_to_id", "sources.metadata.read"),
        (csv_ingest, "ingest_month", "sources.csv_ingest.ingest_month"),
        (workbook, "read_xlsx_workbook", "sources.workbook.read_xlsx_workbook"),
        (cli, "read_xlsx_workbook", "sources.workbook.read_xlsx_workbook"),
        (runner.CondCollection, "run", "runner.run"),
        (reports, "write_summary_csv", "reports.write_summary_csv"),
        (reports, "write_summary_excel", "reports.write_summary_excel"),
        (reports, "write_pptx", "reports.write_pptx"),
        (reports, "write_timeline_json", "reports.write_timeline_json"),
        (reports, "write_timeline_png", "reports.write_timeline_png"),
        (reports, "write_error_json", "reports.write_error_json"),
    ):
        setattr(mod, attr, wrap(name, getattr(mod, attr)))


def per_layer(spec: dict, op_spans: list[list[dict]], setup_spans: list[list[dict]],
              extra: dict) -> dict:
    """Median over ops of each span's per-op counter sums; a span that only
    runs during set-up takes the median over the set-ups instead."""
    from spans import COUNTERS

    def sums(units):
        out = []
        for recs in units:
            acc: dict[str, dict] = {}
            for r in recs:
                a = acc.setdefault(r["name"], dict.fromkeys(COUNTERS, 0.0))
                for c in COUNTERS:
                    a[c] += r.get(c, 0.0)
            out.append(acc)
        return out

    ops, setups = sums(op_spans), sums(setup_spans)
    metrics = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in extra:
            value = extra[name]
        else:
            span, counter = name.rsplit(".", 1)
            units = ops if any(span in u for u in ops) else setups
            vals = [u.get(span, {}).get(counter, 0.0) for u in units] or [0.0]
            value = statistics.median(vals)
        metrics[name] = {"value": value, "unit": m["unit"]}
    return metrics


def count_log_lines(path: str) -> tuple[int, int]:
    err = warn = 0
    with open(path, errors="replace") as f:
        for line in f:
            if " ERROR " in line:
                err += 1
            elif " WARN " in line:
                warn += 1
    return err, warn


@contextmanager
def captured_stderr(path: str):
    """Send fd 2 (and so the JVM's log) to ``path``; Python's own
    ``sys.stderr`` keeps writing to the original stream."""
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    old = sys.stderr
    sys.stderr = os.fdopen(os.dup(saved), "w", buffering=1)
    try:
        yield
    finally:
        sys.stderr.flush()
        sys.stderr = old
        os.dup2(saved, 2)
        os.close(saved)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit (it exits when
    its stdin pipe closes).  The next session start launches a new JVM."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)
    try:
        import tsatool_app_spark  # the program under test, from this checkout
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(tsatool_app_spark.__file__).startswith(root + os.sep):
        print(f"perfbench: the program is not in {root}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_run", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    log_path = os.path.join(work, "spark.log")
    with captured_stderr(log_path):
        result, info = run(args, spec, work)
    err, warn = count_log_lines(log_path)
    info["log_error_lines"], info["log_warn_lines"] = err, warn
    if args.trace:
        result["metrics"]["spark.log_error_lines"]["value"] = err
        result["metrics"]["spark.log_warn_lines"]["value"] = warn
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    if not result["correct"]:
        return 1  # keep the run directory and its Spark log
    shutil.rmtree(work, ignore_errors=True)
    return 0


def run(args, spec: dict, work: str):
    from workloads import WORKLOADS

    from tsatool_app_spark.session import get_spark

    spans = Spans(bool(args.trace))
    wl = WORKLOADS[args.workload](work, args.seed, spans.span)
    t_prep = time.perf_counter()
    wl.generate()
    wl.expect()
    prepare_s = time.perf_counter() - t_prep
    gc.collect()
    reset_peak_rss()
    if args.trace:
        install_patches(spans)

    # Set-up, SETUPS times, each on a freshly launched JVM: session start
    # (JVM launch included) + the workload's set-up.  The ops run on the
    # session of the last one.
    setup_walls, setup_spans, problems = [], [], []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                stop_spark(spark)
                spark = None
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}", extra_conf=spark_conf(work))
            t_session = time.perf_counter() - t0
            spans.attach(spark)
            wl.setup(spark)
            setup_walls.append(time.perf_counter() - t0)
            recs = spans.harvest()
            recs.append({"name": "session.get_spark", "wall_s": t_session})
            setup_spans.append(recs)

        jvm_pid = spark.sparkContext._gateway.proc.pid
        anchor_start = calibration_anchor(spark)

        latencies, op_spans, failed = [], [], 0
        loop_t0 = time.perf_counter()
        i = 0
        while True:
            t0 = time.perf_counter()
            try:
                result = wl.op(spark, i)
                err = None
            except Exception as e:  # noqa: BLE001 - an op that raises is a failed op
                result, err = None, f"op raised {e!r}"[:500]
            dt = time.perf_counter() - t0
            # --- outside the timed region ---
            bad = [err] if err else wl.check(i, result)
            if bad:
                failed += 1
                problems += [f"op {i}: {b}" for b in bad[:5]]
            latencies.append(dt)
            op_spans.append(spans.harvest())
            result = None
            gc.collect()
            i += 1
            if time.perf_counter() - loop_t0 >= args.seconds:
                break
        loop_wall = time.perf_counter() - loop_t0
        anchor_end = calibration_anchor(spark)
        rss_py, rss_jvm = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)
        peak_rss = rss_py + rss_jvm
    finally:
        if spark is not None:
            stop_spark(spark)

    attempted = len(latencies)
    p50 = statistics.median(latencies)
    op_wall = sum(latencies)
    stats = wl.store_stats
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": attempted,
        "prepare_s": round(prepare_s, 3),
        "loop_wall_s": round(loop_wall, 3),
        "op_latencies_s": [round(x, 4) for x in latencies],
        "setup_walls_s": [round(x, 4) for x in setup_walls],
        "failed_op_ratio": failed / attempted,
        "conditions_per_s": wl.conditions_per_op * attempted / op_wall or None,
        "readings_per_s": wl.readings_per_op * attempted / op_wall or None,
        "store_bytes_per_reading": (
            stats["bytes"] / stats["readings_stored"] if stats.get("readings_stored") else None
        ),
        "peak_rss_mb": peak_rss,
        "peak_rss_python_jvm_mb": [rss_py, rss_jvm],
        "anchor_start": anchor_start,
        "anchor_end": anchor_end,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "problems": problems[:20],
    }
    if args.trace:
        readings = stats.get("readings_stored", 0)
        extra = {
            "csv_ingest.readings_in": stats.get("readings_in", 0),
            "csv_ingest.readings_stored": readings,
            "csv_ingest.keep_ratio": readings / stats["readings_in"] if readings else 0.0,
            "model.store_files": stats.get("files", 0),
            "model.store_bytes": stats.get("bytes", 0),
            "spark.log_error_lines": 0,  # filled in once the log is closed
            "spark.log_warn_lines": 0,
            "trace.op_p50_s": p50,
        }
        metrics = per_layer(spec, op_spans, setup_spans, extra)
    else:
        values = {"op_p50_s": p50, "setup_s": statistics.median(setup_walls)}
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]
        }
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, info


if __name__ == "__main__":
    sys.exit(main())
