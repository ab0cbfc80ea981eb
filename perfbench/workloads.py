"""The benchmark's workloads: one closed-loop client each.

``signal_scan`` runs registry queries over generated tables in
passes whose order the seed permutes;
``ingest_read`` ingests generated batches, maintains the rollup and
OHLC partials by stream passes and reads after every batch. Each
workload returns a ``Result``; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import os
import random
import sys
import time
from dataclasses import dataclass, field

import datagen
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from checks import value_hash
from spans import Tracer

# Core signal queries, short enough that driver build and planning are
# a large share of each, plus one kernel that crosses the pandas/Arrow
# boundary (FFT reconstruction).
SIGNAL_SCAN = (
    "q_count q_agg_stats q_range_filter q_precision_decode q_window_max "
    "q_last_n q_paa q_resample_locf q_ohlc q_fft_recon"
).split()
WARMUP_PASSES = 1      # untimed; the median of three timed passes drops a slow first one
MIN_PASSES = 3         # signal_scan passes per run, at the least
MIN_CYCLES = 3         # ingest_read batches per run, at the least
BATCH_ROWS = 50_000    # rows per ingest batch, one day each
HISTORY_DAYS = 2       # days in the store before the first measured batch
LAST_N = 3


@dataclass
class Run:
    seed: int
    seconds: float
    trace: bool
    tmp: str            # per-run scratch directory inside the checkout


@dataclass
class Result:
    names: list[str] = field(default_factory=list)  # measured ops
    latencies: list[float] = field(default_factory=list)  # their wall seconds
    steal_free: list[float] = field(default_factory=list)  # their steal-free wall seconds
    cpu: list[float] = field(default_factory=list)  # their CPU seconds
    steal: list[float] = field(default_factory=list)  # the host's steal share
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    tracer: Tracer | None = None
    spark: object = None         # the session, stopped by the caller

    def check(self, what: str, ok: bool) -> None:
        """Count one checked operation; a wrong output fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"wrong output: {what}")

    def sample(self, name: str, wall: float, steal_free: float, cpu: float, steal: float) -> None:
        """Record one measured operation."""
        self.names.append(name)
        self.latencies.append(wall)
        self.steal_free.append(steal_free)
        self.cpu.append(cpu)
        self.steal.append(steal)

    def error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{what}: {type(exc).__name__}: {exc}"[:300])


def _cpu_ticks() -> list[int]:
    """The machine's CPU time so far, all CPUs summed, by kind: the
    first line of /proc/stat (user nice system idle iowait irq softirq
    steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


class Clock:
    """Wall and CPU seconds of an operation.

    Wall time is corrected for steal: of the CPU time the machine's
    vCPUs ran or wanted to run during the operation, the share the
    hypervisor took away (``steal`` in /proc/stat) is taken off the
    operation's wall time. Idle vCPUs are not stolen from, so the
    share is taken of busy time, not of all time. CPU time is
    user + system time of this process and of the JVM with every process
    below it (Python workers included; exited ones through their
    parent's child times), read from /proc."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def _jvm_tree(self) -> float:
        parent, ticks = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended meanwhile
                continue
            parent[int(pid)] = int(fields[1])
            ticks[int(pid)] = sum(int(x) for x in fields[11:15])
        total = 0
        for pid, t in ticks.items():
            p = pid
            while p > 1 and p != self.jvm_pid:
                p = parent.get(p, 0)
            if p == self.jvm_pid:
                total += t
        return total / self.tick

    def measure(self, fn):
        """(fn(), wall seconds, steal-free wall seconds, CPU seconds,
        steal share); the /proc reads fall outside this process's
        measured window."""
        stat0 = _cpu_ticks()
        jvm0 = self._jvm_tree()
        own0 = os.times()
        t = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t
        own1 = os.times()
        jvm1 = self._jvm_tree()
        stat1 = _cpu_ticks()
        own = own1.user + own1.system - own0.user - own0.system
        d = [b - a for a, b in zip(stat0, stat1)]
        wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]  # all but idle and iowait
        steal = d[7] / wanted if wanted else 0.0
        return out, wall, wall * (1.0 - steal), jvm1 - jvm0 + own, steal


def stop_session() -> None:
    """Stop the session, if one started, and wait for its JVM (and with
    it the Python workers it forked) to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def open_session(result: Result):
    """Start the package's session, JVM launch included; return it, the
    start time (it goes into set-up) and a clock over the JVM."""
    from timeseriesdb_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    start_s = result.info["session_start_s"] = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s, Clock(spark._jvm.java.lang.ProcessHandle.current().pid())


# ---- registry query workloads ---------------------------------------------


def _expected_hashes(sf_dir: str, names: list[str]) -> dict[str, str]:
    """DuckDB oracle value hash per query, over the generated tables."""
    import duckdb
    from timeseriesdb_spark.registry import LAZY_ORACLES, ORACLES
    from timeseriesdb_spark.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for n in names:
            sql = ORACLES[n] if n in ORACLES else LAZY_ORACLES[n]()
            out[n] = value_hash(con.execute(sql).fetch_df())
        return out
    finally:
        con.close()


def run_queries(run: Run, names: list[str]) -> Result:
    from timeseriesdb_spark.registry import QUERIES

    res = Result()
    sf_dir = os.path.join(run.tmp, "sf")
    datagen.write_tables(run.seed, sf_dir)
    # lazy oracles retrain from the tables under this variable
    os.environ["SPARK_TSDB_TEST_SF"] = sf_dir
    expected = _expected_hashes(sf_dir, names)
    spark, start_s, clock = open_session(res)

    def checked(name: str, fn) -> tuple | None:
        """Run one query, check its output; its times as ``Clock.measure``
        gives them, or None on error."""
        try:
            pdf, *times = clock.measure(fn)
        except Exception as exc:  # a failing query must not stop the loop
            res.error(name, exc)
            return None
        res.check(name, value_hash(pdf) == expected[name])
        return times

    t = time.perf_counter()
    warm = res.info["warmup_s"] = {}
    for _ in range(WARMUP_PASSES):  # caches, codegen, JIT, Python workers
        for name in names:
            took = checked(name, lambda: QUERIES[name](spark, sf_dir).toPandas())
            warm.setdefault(name, took and took[0])
    res.setup_s = start_s + time.perf_counter() - t
    res.tracer = tracer = Tracer(spark if run.trace else None)

    def traced(name: str) -> pd.DataFrame:
        with tracer.op(name):
            with tracer.step("build", "operators.build_s"):
                df = QUERIES[name](spark, sf_dir)
            if tracer.enabled:
                with tracer.step("plan", "catalyst.plan_s"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.step("exec", "exec.run_s"):
                return df.toPandas()

    rng = random.Random(run.seed)
    passes = 0
    t0 = time.perf_counter()
    while passes < MIN_PASSES or time.perf_counter() - t0 < run.seconds:
        order = list(names)
        rng.shuffle(order)
        for name in order:
            took = checked(name, lambda: traced(name))
            if took is not None:
                res.sample(name, *took)
        passes += 1
    res.info.update(passes=passes, loop_s=time.perf_counter() - t0)
    res.spark = spark
    return res


# ---- write path ------------------------------------------------------------


def _files(path: str) -> tuple[int, int]:
    """(count, bytes) of the data files under ``path``."""
    n = size = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _per_signal(pdf: pd.DataFrame) -> pd.Series:
    s = pdf.set_index(pdf.columns[0])[pdf.columns[1]].sort_index()
    s.index = s.index.astype("int64")
    return s.astype("float64").rename(None)


def _same_series(a: pd.Series, b: pd.Series) -> bool:
    return a.index.equals(b.index) and np.array_equal(a.to_numpy(), b.to_numpy())


def _bars(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[["user_id", "day", "open", "high", "low", "close", "n_samples"]].copy()
    pdf["day"] = pd.to_datetime(pdf["day"]).astype("datetime64[us]")
    pdf["user_id"] = pdf["user_id"].astype("int64")
    pdf["n_samples"] = pdf["n_samples"].astype("int64")
    return pdf.sort_values(["user_id", "day"]).reset_index(drop=True)


def _ref_bars(ref: pd.DataFrame) -> pd.DataFrame:
    r = ref.sort_values(["ts", "event_id"])
    r = r.assign(day=r["ts"].dt.floor("D").dt.tz_localize(None))
    g = r.groupby(["user_id", "day"])["value"]
    out = pd.DataFrame(
        {
            "open": g.first(),
            "high": g.max(),
            "low": g.min(),
            "close": g.last(),
            "n_samples": g.size(),
        }
    ).reset_index()
    return _bars(out)


def run_ingest(run: Run) -> Result:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )
    from timeseriesdb_spark.api import SignalEngine

    res = Result()
    d = {k: os.path.join(run.tmp, k) for k in ("src", "store", "rollup", "bars", "ck_rollup", "ck_ohlc")}
    os.makedirs(d["src"])
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    spark, start_s, clock = open_session(res)
    tracer = Tracer(None)  # the warm-up batch is not traced
    eng = SignalEngine(spark, d["store"])
    rng = random.Random(run.seed)
    batches: list[pd.DataFrame] = []
    input_bytes = 0
    visible: list[float] = []
    reads: list[float] = []
    batch_reads: list[float] = []  # the five reads of each measured batch
    ingests: list[float] = []
    last_bars: list[pd.DataFrame] = []

    def timed(name: str, fn, counter: str, measured: bool, check=None):
        """One op of the client, checked; returns its output or None."""
        def op():
            with tracer.op(name):
                with tracer.step(name, counter, "exec.run_s"):
                    return fn()

        try:
            out, *times = clock.measure(op)
        except Exception as exc:  # keep the loop going; the op failed
            res.error(name, exc)
            return None
        if measured:
            res.sample(name, *times)
            lat = times[0]
            if name == "ingest":
                ingests.append(lat)
            elif counter.startswith("api.") and name != "compact":
                reads.append(lat)
        res.check(name, True if check is None else check(out))
        return out

    def stream_pass(start, path: str, ck: str) -> int:
        q = start(spark.readStream.schema(schema).parquet(d["src"]), path, ck)
        tracer.add_group(str(q.runId))
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(f"stream pass into {path} did not finish")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = q.recentProgress
        tracer.count("streaming.batches", len(progress))
        tracer.count("streaming.input_rows", sum(p.numInputRows for p in progress))
        return len(progress)

    def cycle(days: range, measured: bool) -> None:
        """Ingest the batches of ``days`` in one call, run both stream
        passes, then read and check."""
        nonlocal input_bytes
        paths = []
        for i in days:
            table = datagen.ingest_batch(run.seed, i, BATCH_ROWS)
            paths.append(os.path.join(d["src"], f"batch-{i:05d}.parquet"))
            pq.write_table(table, paths[-1])
            batches.append(table.to_pandas())
            input_bytes += table.nbytes
        i = days[-1]
        ref = pd.concat(batches, ignore_index=True)
        ref_max = ref.groupby("user_id")["value"].max().astype("float64").rename(None)
        ref_max.index = ref_max.index.astype("int64")

        t = time.perf_counter()
        before = _files(d["store"])
        timed("ingest", lambda: eng.ingest(spark.read.schema(schema).parquet(*paths)), "store.ingest_s", measured)
        after = _files(d["store"])
        tracer.count("store.files_written", after[0] - before[0])
        tracer.count("store.bytes_written", after[1] - before[1])
        timed("rollup_stream", lambda: stream_pass(eng.maintain_rollup_stream, d["rollup"], d["ck_rollup"]),
              "streaming.rollup_s", measured)
        timed("ohlc_stream", lambda: stream_pass(eng.maintain_ohlc_stream, d["bars"], d["ck_ohlc"]),
              "streaming.ohlc_s", measured)
        if measured:
            visible.append(time.perf_counter() - t)

        # read parameters: an unaligned window inside the ingested days
        day = 86_400
        lo_s = rng.uniform(0, i * day) if i else 0.0
        t0 = datagen.EVENTS_START + np.timedelta64(int(lo_s * 1e6) + 1_033_000_001, "us")
        t1 = t0 + np.timedelta64(int(1.5 * day * 1e6), "us")
        lo = rng.uniform(60.0, 120.0)
        hi = lo + 10.0
        ts0, ts1 = str(t0).replace("T", " "), str(t1).replace("T", " ")
        win = ref[(ref["ts"] >= pd.Timestamp(t0, tz="UTC")) & (ref["ts"] < pd.Timestamp(t1, tz="UTC"))]
        win_max = win.groupby("user_id")["value"].max().astype("float64").rename(None)
        win_max.index = win_max.index.astype("int64")
        in_range = np.sort(win[(win["value"] > lo) & (win["value"] < hi)]["event_id"].to_numpy())
        newest = ref.sort_values(["ts", "event_id"]).groupby("user_id").tail(LAST_N)
        ref_last = np.sort(newest["event_id"].to_numpy())

        k = len(reads)
        timed("smart_agg", lambda: eng.smart_agg("max", d["rollup"]).toPandas(), "api.smart_agg_s", measured,
              lambda p: _same_series(_per_signal(p), ref_max))
        timed("raw_agg", lambda: eng.agg("max", t0=ts0, t1=ts1).toPandas(), "api.raw_agg_s", measured,
              lambda p: _same_series(_per_signal(p), win_max))
        timed("range_query", lambda: eng.range_query(lo, hi, t0=ts0, t1=ts1).toPandas(), "api.range_query_s",
              measured, lambda p: np.array_equal(np.sort(p["event_id"].to_numpy()), in_range))
        timed("last_n", lambda: eng.last_n(LAST_N).toPandas(), "api.last_n_s", measured,
              lambda p: np.array_equal(np.sort(p["event_id"].to_numpy()), ref_last))
        bars = timed("ohlc_bars", lambda: _bars(eng.ohlc_bars(d["bars"]).toPandas()), "api.ohlc_bars_s",
                     measured, lambda p: p.equals(_ref_bars(ref)))
        last_bars[:] = [bars]
        if measured:
            batch_reads.append(sum(reads[k:]))

    t = time.perf_counter()
    # warm-up: the store's history in one ingest, the first stream
    # passes and reads (codegen, JIT)
    cycle(range(HISTORY_DAYS), measured=False)
    res.setup_s = start_s + time.perf_counter() - t
    res.tracer = tracer = Tracer(spark if run.trace else None)

    n = HISTORY_DAYS
    t0 = time.perf_counter()
    while n < HISTORY_DAYS + MIN_CYCLES or time.perf_counter() - t0 < run.seconds:
        cycle(range(n, n + 1), measured=True)
        n += 1
    merged = timed("compact", lambda: eng.compact_partials(d["bars"], "ohlc"), "api.compact_s", True)
    tracer.count("api.partials_merged", merged or 0)
    timed("ohlc_bars", lambda: _bars(eng.ohlc_bars(d["bars"]).toPandas()), "api.ohlc_bars_s", True,
          lambda p: last_bars[0] is not None and p.equals(last_bars[0]))
    res.info["loop_s"] = time.perf_counter() - t0

    # end-of-run checks against the generated rows
    ref = pd.concat(batches, ignore_index=True)
    ref_max = ref.groupby("user_id")["value"].max().astype("float64").rename(None)
    ref_max.index = ref_max.index.astype("int64")
    try:
        res.check("store row count", eng.events().count() == len(ref))
        raw = _per_signal(eng.agg("max").toPandas())
        res.check("per-signal max", _same_series(raw, ref_max))
        res.check("smart_agg equals agg", _same_series(_per_signal(eng.smart_agg("max", d["rollup"]).toPandas()), raw))
    except Exception as exc:
        res.error("end-of-run checks", exc)

    stored = sum(_files(d[k])[1] for k in ("store", "rollup", "bars"))
    res.info.update(
        batches=n,
        measured_batches=n - HISTORY_DAYS,
        batch_rows=BATCH_ROWS,
        rows_ingested=len(ref),
        input_bytes=input_bytes,
        stored_bytes=stored,
        visible_s=visible,
        read_s=reads,
        batch_read_s=batch_reads,
        read_first_batch_s=batch_reads[0] if batch_reads else 0.0,
        read_last_batch_s=batch_reads[-1] if batch_reads else 0.0,
        ingest_s=ingests,
    )
    res.spark = spark
    return res


WORKLOADS = {
    "signal_scan": lambda run: run_queries(run, SIGNAL_SCAN),
    "ingest_read": run_ingest,
}
