"""Signal-store layout and the declared-schema reader: the writer keeps
the documented (user_id, ts) order and sizes its files to the batch;
`store.read_parquet` reads every store the engine writes exactly as
schema inference would, without starting a Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR
from timeseriesdb_spark.api import SignalEngine
from timeseriesdb_spark.sources import store
from timeseriesdb_spark.tables import load_table


@pytest.fixture(scope="module")
def signal_store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "signals")
    store.write_signal_store(load_table(spark, SF_DIR, "events"), path)
    return path


def _data_files(path: str) -> dict[str, list[str]]:
    """Data files by partition directory."""
    out: dict[str, list[str]] = {}
    for root, _, files in os.walk(path):
        data = [f for f in files if f.endswith(".parquet")]
        if data:
            out[root] = [os.path.join(root, f) for f in data]
    return out


def _sorted_rows(df):
    return df.orderBy(*df.columns).collect()


def _assert_parity(spark, *paths):
    got = store.read_parquet(spark, *paths)
    exp = spark.read.parquet(*paths)
    assert got.schema == exp.schema
    assert _sorted_rows(got) == _sorted_rows(exp)


def test_store_files_sorted_by_signal_then_time(signal_store):
    """Every file holds its rows in (user_id, ts) order."""
    files = [f for fs in _data_files(signal_store).values() for f in fs]
    assert files
    for f in files:
        t = pq.read_table(f, columns=["user_id", "ts"]).to_pandas()
        key = list(zip(t["user_id"], t["ts"]))
        assert key == sorted(key), f


def test_store_writes_few_files_per_day(signal_store):
    """A small batch writes at most 2 files per event_date directory,
    not one per fixed hash bucket."""
    by_dir = _data_files(signal_store)
    assert by_dir
    assert max(len(fs) for fs in by_dir.values()) <= 2


def test_read_parquet_signal_store_parity(spark, signal_store):
    _assert_parity(spark, signal_store)


def test_events_starts_no_job(spark, signal_store):
    """Building eng.events() declares the footer schema, so it starts
    no schema-inference job; plain spark.read.parquet does start one."""
    sc = spark.sparkContext

    def job_ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup())

    before = job_ids()
    SignalEngine(spark, signal_store).events()
    assert job_ids() == before
    spark.read.parquet(signal_store)
    assert job_ids() - before  # the control: inference is a job


def _events_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    ev.repartition(4).write.parquet(src)
    return (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )


def test_read_parquet_rollup_partials_parity(spark, tmp_path):
    rollup = str(tmp_path / "rollup")
    eng = SignalEngine(spark, str(tmp_path / "store"))
    q = eng.maintain_rollup_stream(
        _events_stream(spark, tmp_path), rollup, str(tmp_path / "ck")
    )
    assert q.awaitTermination(180)
    _assert_parity(spark, rollup)


def test_read_parquet_ohlc_partials_parity(spark, tmp_path):
    bars = str(tmp_path / "bars")
    eng = SignalEngine(spark, str(tmp_path / "store"))
    q = eng.maintain_ohlc_stream(
        _events_stream(spark, tmp_path), bars, str(tmp_path / "ck")
    )
    assert q.awaitTermination(180)
    _assert_parity(spark, bars)
    assert eng.compact_partials(bars, "ohlc") >= 2
    _assert_parity(spark, bars)


def test_read_parquet_falls_back_without_spark_footer(spark, tmp_path):
    """A file not written by Spark carries no footer schema: the
    helper falls back to inference and reads the same frame."""
    path = str(tmp_path / "plain.parquet")
    pq.write_table(
        pa.table(
            {
                "user_id": np.arange(5, dtype=np.int64),
                "value": np.linspace(0.0, 1.0, 5),
            }
        ),
        path,
    )
    assert store._footer_schema(path) is None
    _assert_parity(spark, path)


def test_read_parquet_falls_back_when_file_vanishes(
    spark, signal_store, monkeypatch
):
    """A file retired between the walk and the footer read (a
    concurrent compaction) sends the read back to inference."""

    def vanished(path):
        raise FileNotFoundError(path)

    monkeypatch.setattr(store, "_footer_schema", vanished)
    _assert_parity(spark, signal_store)
