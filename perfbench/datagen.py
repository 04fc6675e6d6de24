"""Seeded inputs for the benchmark workloads.

- ``recording(work, minutes)``: an EEG-like recording of the 18
  ``bipolar_ant_pos`` electrodes at 256 Hz with timestamps shared by
  every channel and a few gaps, from a fixed data seed, as ``samples(channel, ts, value)``
  parquet plus the numpy arrays the checker compares against.
- ``registry_tables(work, sf)``: the ten TPC-H-ish tables the registry
  queries read (``region`` .. ``embeddings``), with the schemas and
  value domains of the engine's test tables, as parquet files.

Both use a fixed data seed, so every run of a workload sees the same
data and the benchmark's ``--seed`` only drives the traffic. Everything
is written under the benchmark's work directory and reused when it
already exists.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ELECTRODES = [
    "Fp1", "F7", "T7", "P7", "O1", "Fp2", "F8", "T8", "P8", "O2",
    "F3", "C3", "P3", "F4", "C4", "P4", "Fz", "Cz",
]
RATE_HZ = 256.0
REC_START_US = 1_600_000_000_000_000


class Recording:
    """The generated recording: shared timestamps ``ts`` (µs) and one
    value array per electrode, plus the parquet path the server loads."""

    def __init__(self, path: str, ts: np.ndarray, values: dict[str, np.ndarray]):
        self.path = path
        self.ts = ts
        self.values = values

    @property
    def start_us(self) -> int:
        return int(self.ts[0])

    @property
    def end_us(self) -> int:
        return int(self.ts[-1]) + 1


def _recording_arrays(seed: int, minutes: float):
    rng = np.random.default_rng([seed, 7])
    n = int(RATE_HZ * 60 * minutes)
    idx = np.arange(n, dtype=np.int64)
    keep = np.ones(n, dtype=bool)
    # a few gaps of 1-20 s where every channel is silent
    for _ in range(4):
        length = int(rng.integers(1, 21) * RATE_HZ)
        at = int(rng.integers(0, max(1, n - length)))
        keep[at:at + length] = False
    idx = idx[keep]
    ts = REC_START_US + idx * 1_000_000 // int(RATE_HZ)
    t = idx / RATE_HZ
    values = {}
    for e in ELECTRODES:
        alpha = rng.uniform(8.0, 12.0)
        phase = rng.uniform(0, 2 * np.pi)
        drift = np.cumsum(rng.standard_normal(len(idx))) * 0.05
        v = (
            25.0 * np.sin(2 * np.pi * alpha * t + phase)
            + 8.0 * np.sin(2 * np.pi * 1.5 * t + phase / 2)
            + rng.standard_normal(len(idx)) * 6.0
            + drift
        )
        values[e] = np.round(v, 3)
    return ts, values


def recording(work: str, minutes: float = 30.0, seed: int = 42) -> Recording:
    """Generate (or load) the recording; the arrays are kept next to
    the parquet file so later runs skip the generation."""
    d = os.path.join(work, "recordings")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"rec-s{seed}-m{minutes:g}.parquet")
    arrays = path[: -len(".parquet")] + ".npz"
    if os.path.exists(path) and os.path.exists(arrays):
        with np.load(arrays) as z:
            return Recording(path, z["ts"], {e: z[e] for e in ELECTRODES})
    ts, values = _recording_arrays(seed, minutes)
    n = len(ts)
    table = pa.table(
        {
            "channel": pa.array(np.repeat(np.array(ELECTRODES), n)),
            "ts": pa.array(np.tile(ts, len(ELECTRODES))),
            "value": pa.array(np.concatenate([values[e] for e in ELECTRODES])),
        }
    )
    pq.write_table(table, path + ".tmp", row_group_size=1 << 20)
    np.savez(arrays + ".tmp.npz", ts=ts, **values)
    os.replace(arrays + ".tmp.npz", arrays)
    os.replace(path + ".tmp", path)
    return Recording(path, ts, values)


# ---------------------------------------------------------------------------
# registry tables
# ---------------------------------------------------------------------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(d: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def registry_tables(work: str, sf: float, seed: int = 42) -> str:
    """Generate (or reuse) the registry tables at scale ``sf``; returns
    the directory holding ``<table>.parquet``."""
    d = os.path.join(work, "tables", f"sf{sf:g}-s{seed}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)

    _write(d, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(d, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })

    n_cust = max(150, int(150_000 * sf))
    _write(d, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })

    n_supp = max(100, int(10_000 * sf))
    _write(d, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })

    n_part = max(200, int(200_000 * sf))
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "spring", "wire"])
    _write(d, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })

    n_ord = max(1500, int(1_500_000 * sf))
    _write(d, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })

    n_li = max(6000, int(6_000_000 * sf))
    _write(d, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
    })

    n_ev = max(1000, int(1_000_000 * sf))
    month_us = 30 * 86_400 * 1_000_000
    ev_us = np.sort(rng.choice(month_us, n_ev, replace=False))
    _write(d, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    })

    n_doc = max(1000, int(50_000 * sf))
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n_doc, p=[0.41, 0.14, 0.15, 0.15, 0.15])
    _write(d, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_emb = 2000
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.standard_normal((10, 64))
    vecs = centers[labels] + rng.standard_normal((n_emb, 64)) * 0.8
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(d, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    open(done, "w").close()
    return d
