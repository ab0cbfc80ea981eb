"""Seeded input generators for the benchmark.

``write_tables`` writes the ten tables the registry queries read
(``timeseriesdb_spark.tables.TABLES``) with the column types and value
shapes of the project's TPC-H-ish sf0.01 test tables: uniform keys, exponential
event values rounded to cents, 31-word documents of which 5% are
copies of another document with " dup" appended, and unit-norm 64-d
embeddings. ``ingest_batch`` makes one batch of signal events for the
write-path workload, shaped like the sf0.1 events table. Both depend only on their arguments, so the same
seed gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.01 test tables
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
SIGNALS = 150  # distinct events.user_id
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["big", "blue", "cold", "hot", "large", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    off = rng.integers(0, (hi - lo).astype(np.int64) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options, n: int, p=None) -> np.ndarray:
    return np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)]


def make_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = ROWS
    i32 = np.int32
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    k = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": rng.integers(0, 25, len(k)).astype(i32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, len(k)),
            "c_mktsegment": _pick(rng, SEGMENTS, len(k)),
        }
    )
    k = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": rng.integers(0, 25, len(k)).astype(i32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, len(k)),
        }
    )
    k = np.arange(n["part"], dtype=np.int64)
    out["part"] = pd.DataFrame(
        {
            "p_partkey": k,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(_pick(rng, ADJECTIVES, len(k)), _pick(rng, NOUNS, len(k)))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(k))],
            "p_type": _pick(rng, PART_TYPES, len(k)),
            "p_size": rng.integers(1, 51, len(k)).astype(i32),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1),
        }
    )
    k = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": k,
            "o_custkey": rng.integers(0, n["customer"], len(k)).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], len(k)),
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, len(k)),
            "o_orderdate": _days(rng, len(k), "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, len(k)),
        }
    )
    m = n["lineitem"]
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, m).astype(i32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
        }
    )
    m = n["events"]
    offsets = np.sort(rng.integers(0, EVENTS_SPAN_US, m))
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(m, dtype=np.int64),
            "ts": EVENTS_START + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, SIGNALS, m).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, m),
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)],
        }
    )
    m = n["documents"]
    texts = [
        " ".join(_pick(rng, WORDS, int(rng.integers(10, 101)))) for _ in range(m)
    ]
    for d in np.flatnonzero(rng.random(m) < 0.05):
        src = int(rng.integers(0, m))
        if src != d:
            texts[d] = texts[src] + " dup"
    k = np.arange(m, dtype=np.int64)
    out["documents"] = pd.DataFrame(
        {
            "doc_id": k,
            "text": texts,
            "lang": _pick(rng, LANGS, m, p=LANG_P),
            "source": [f"src{i % 20}" for i in k],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, m).astype(i32),
        }
    )
    return out


def write_tables(seed: int, out_dir: str) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(seed).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                ).with_metadata(table.schema.metadata)
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---- write-path batches ---------------------------------------------------

# Batch shape. Signal ids and values follow the events table of the
# project's sf0.1 test data: 1,500 signals, ids uniform over them, values
# exponential with mean 50 and rounded to cents. That table has no late
# rows (ts never falls behind in event_id order), so the late share is
# not measured: it is set so that every batch after the first adds
# partials to up to three day partitions before its own, which gives
# the OHLC compaction partials to merge.
BATCH_SIGNALS = 1_500    # distinct events.user_id at sf0.1
VALUE_MEAN = 50.0        # events.value: exponential, mean 50, in cents
LATE_SHARE = 0.05        # rows whose ts falls in an earlier day
LATE_DAYS = 3            # how far back a late row may land
INGEST_SCHEMA = pa.schema(
    [
        ("user_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("event_id", pa.int64()),
        ("value", pa.float64()),
    ]
)


def ingest_batch(seed: int, index: int, rows: int) -> pa.Table:
    """Batch ``index`` of the write workload: day ``index`` of events,
    signal ids uniform over ``BATCH_SIGNALS``, exponential values in
    cents, and ``LATE_SHARE`` of the rows dated up to ``LATE_DAYS`` days
    earlier (so they land in older day partitions). Rows come in ts
    order; event ids are unique across batches."""
    rng = np.random.default_rng([seed, index])
    users = rng.integers(0, BATCH_SIGNALS, rows)
    day_us = 86_400 * 1_000_000
    start = EVENTS_START + np.timedelta64(index * day_us, "us")
    offsets = rng.integers(0, day_us, rows)
    if index > 0:
        late = rng.random(rows) < LATE_SHARE
        back = rng.integers(1, min(index, LATE_DAYS) + 1, rows)
        offsets = np.where(late, offsets - back * day_us, offsets)
    order = np.lexsort((np.arange(rows), offsets))
    users, offsets = users[order], offsets[order]
    values = np.round(rng.exponential(VALUE_MEAN, rows), 2)
    return pa.table(
        {
            "user_id": users.astype(np.int64),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us", tz="UTC")),
            "event_id": np.arange(rows, dtype=np.int64) + index * rows,
            "value": values,
        },
        schema=INGEST_SCHEMA,
    )
