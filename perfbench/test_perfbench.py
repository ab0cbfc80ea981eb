"""The benchmark's own tests: no Spark session, seconds to run.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
METRIC_UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_names_and_units_are_well_formed():
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert METRIC_NAME.fullmatch(m["name"]), m["name"]
        assert METRIC_UNIT.fullmatch(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    for m in SPEC["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def test_spec_matches_what_the_run_prints():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]  # shuffled order is irrelevant
    value, pct = checks.tail(values[::-1])
    assert value == 90.0 and pct == 90.0
    assert sum(v > value for v in values) == 10
    value, pct = checks.tail(values[:21])
    assert value == 11.0 and sum(v > value for v in values[:21]) == 10
    assert checks.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)  # too few samples


def test_median():
    assert checks.median([3.0, 1.0, 2.0]) == 2.0
    assert checks.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_pass_time_sums_each_operations_median():
    names = ["a", "b", "a", "b", "a", "b"]
    values = [1.0, 10.0, 9.0, 20.0, 2.0, 30.0]  # a: 1, 9, 2; b: 10, 20, 30
    assert checks.pass_time(names, values) == 2.0 + 20.0


def test_value_hash_ignores_row_and_column_order_and_int_width():
    df = pd.DataFrame(
        {
            "b": np.array([1, 2, 3], dtype="int32"),
            "a": [0.5, 1.5, float("nan")],
            "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
        }
    )
    h = checks.value_hash(df)
    assert h == checks.value_hash(df)
    shuffled = df.iloc[[2, 0, 1]][["t", "a", "b"]].astype({"b": "int64"})
    assert checks.value_hash(shuffled) == h
    changed = df.copy()
    changed.loc[0, "a"] = 0.25
    assert checks.value_hash(changed) != h


def test_tables_are_deterministic(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    datagen.write_tables(1, a)
    datagen.write_tables(1, b)
    datagen.write_tables(2, c)
    for name in datagen.make_tables(1):
        f = f"{name}.parquet"
        with open(os.path.join(a, f), "rb") as fa, open(os.path.join(b, f), "rb") as fb:
            assert fa.read() == fb.read(), name
    with open(os.path.join(a, "events.parquet"), "rb") as fa:
        with open(os.path.join(c, "events.parquet"), "rb") as fc:
            assert fa.read() != fc.read()


@pytest.mark.parametrize("index", [0, 3])
def test_ingest_batches_are_deterministic(index):
    one = datagen.ingest_batch(7, index, 2_000)
    assert one.equals(datagen.ingest_batch(7, index, 2_000))
    assert not one.equals(datagen.ingest_batch(8, index, 2_000))
    pdf = one.to_pandas()
    assert pdf["event_id"].is_unique
    day0 = datagen.EVENTS_START + np.timedelta64(index, "D")
    days = (pdf["ts"].dt.tz_localize(None) - pd.Timestamp(day0)).dt.days
    assert days.max() == 0
    assert (days < 0).any() == (index > 0)  # late rows only after day 0


def test_parse_metric():
    assert spans.parse_metric("1,234") == 1234.0
    assert spans.parse_metric("12.5 KiB") == 12.5 * 1024
    assert spans.parse_metric("total (min, med, max)\n2.0 MiB (1.0 MiB, 1.0 MiB)") == 2 * 2**20


def test_refuses_to_run_outside_the_repository(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    code = run.main(["--workload", "signal_scan", "--seed", "1", "--seconds", "1"])
    assert code != 0
    assert capsys.readouterr().out == ""
