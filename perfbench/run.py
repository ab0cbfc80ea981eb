#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload signal_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. The session is the package's own
(``timeseriesdb_spark.session.get_spark``) on ``local[N]`` with N =
``SPARK_GRAFT_CPUS``, or the usable CPU count when that is unset. Every
file the run writes lives under ``.perfbench/`` in the working
directory: a per-run scratch directory, removed on exit, and with
``--trace 1`` the span file ``.perfbench/traces/<workload>-seed<n>.json``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it carries the run's context (CPU counts, sample counts, the
tail percentile, per-run details) and any errors.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import tempfile
import time
import traceback

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
TIME_LIMIT_S = 170  # a run that overruns this stops with an error

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
}
PER_LAYER = {
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.core_busy_share": "share",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "arrow.bytes_sent": "bytes",
    "arrow.bytes_received": "bytes",
    "arrow.rows_received": "count",
    "scan.files_read": "count",
    "scan.bytes_read": "bytes",
    "scan.rows_output": "count",
    "store.ingest_s": "s",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    "store.bytes_per_input_byte": "bytes/byte",
    "streaming.rollup_s": "s",
    "streaming.ohlc_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "ingest.rows_per_s": "1/s",
    "ingest.visible_p50_s": "s",
    "api.smart_agg_s": "s",
    "api.raw_agg_s": "s",
    "api.range_query_s": "s",
    "api.last_n_s": "s",
    "api.ohlc_bars_s": "s",
    "api.read_p50_s": "s",
    "api.compact_s": "s",
    "api.partials_merged": "count",
    "driver.jvm_peak_rss_mb": "MB",
    "driver.python_peak_rss_mb": "MB",
    "tracing.overhead_share": "share",
    "tracing.accounted_share": "share",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(tmp: str) -> None:
    """Point every scratch location of Python, the JVM and Spark at
    ``tmp`` and make the session's core count explicit."""
    for sub in ("spark-local", "java-tmp", "warehouse", "py-tmp"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["TMPDIR"] = os.path.join(tmp, "py-tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options -Djava.io.tmpdir={os.path.join(tmp, 'java-tmp')}",
            "pyspark-shell",
        ]
    )
    # no hsperfdata files in the system temp directory, for any JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def end_to_end(res) -> dict[str, float]:
    from checks import pass_time

    return {
        "setup_s": res.setup_s,
        "pass_s": pass_time(res.names, res.steal_free),
        "pass_cpu_s": pass_time(res.names, res.cpu),
    }


def per_layer(res, cores: int) -> dict[str, float]:
    from checks import median

    c = dict.fromkeys(PER_LAYER, 0.0)
    c.update(res.tracer.counters)
    info = res.info
    if c["exec.run_s"]:
        c["exec.core_busy_share"] = c["exec.executor_run_s"] / (c["exec.run_s"] * cores)
    if info.get("input_bytes"):
        c["store.bytes_per_input_byte"] = info["stored_bytes"] / info["input_bytes"]
    if info.get("ingest_s"):
        c["ingest.rows_per_s"] = info["batch_rows"] * len(info["ingest_s"]) / sum(info["ingest_s"])
        c["ingest.visible_p50_s"] = median(info["visible_s"])
        c["api.read_p50_s"] = median(info["read_s"])
    busy = sum(res.latencies)
    c["tracing.overhead_share"] = res.tracer.overhead_s / busy
    steps = sum(s["end"] - s["start"] for s in res.tracer.spans if s["parent"] is not None)
    c["tracing.accounted_share"] = steps / busy
    c["driver.jvm_peak_rss_mb"] = info["jvm_peak_rss_mb"]
    c["driver.python_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return c


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "timeseriesdb_spark", "__init__.py")):
        print("perfbench: run from the repository root (timeseriesdb_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    from workloads import WORKLOADS, Run, stop_session

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    def overrun(signum, frame):
        raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")

    signal.signal(signal.SIGALRM, overrun)
    signal.alarm(TIME_LIMIT_S)
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        _isolate(tmp)
        run = Run(args.seed, args.seconds, bool(args.trace), tmp)
        res = WORKLOADS[args.workload](run)
        res.info["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(res.spark)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        if args.trace:
            metrics, units = per_layer(res, cores), PER_LAYER
        else:
            metrics, units = end_to_end(res), END_TO_END
        from checks import median, pass_time, tail

        op_tail, tail_pct = tail(res.latencies)
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": _cpus(),
            "spark_graft_cpus": cores,
            "samples": len(res.latencies),
            # per-operation figures, not gated (see README.md)
            "ops_per_s": len(res.steal_free) / sum(res.steal_free),
            "op_p50_s": median(res.steal_free),
            "raw_pass_s": pass_time(res.names, res.latencies),
            "raw_op_tail_s": op_tail,
            "tail_percentile": tail_pct,
            "steal_share_p50": median(res.steal),
            "steal_share_max": max(res.steal),
            "errors": res.errors[:10],
            "wall_before_stop_s": time.perf_counter() - T0,
            # per-op and per-query detail goes to the trace file only
            **{k: v for k, v in res.info.items() if not isinstance(v, (list, dict))},
        }
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            res.tracer.write(
                os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"context": context, "info": res.info, "latencies": res.latencies},
            )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        stop_session()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(context))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
