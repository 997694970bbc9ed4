"""Seeded inputs for every workload, and the golden ETL transform.

Everything the engine reads in a benchmark run is generated here from the
``--seed`` argument: the appliance CSV, the per-device stringly-typed CPU
stats the device simulator serves, the receiver's failure schedule and the
analytic tables of the query workloads.  The same seed gives byte-identical
inputs.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Indicator order of the reference transform (etl/main.go:220-226).
INDICATORS = ("utilization", "nice", "user", "system", "irq")
#: Stat fields in the order ``device_stats`` returns them.
STAT_FIELDS = ("p_idle", "p_nice", "p_user", "p_sys", "p_irq")
#: Unparseable or overflowing numeric strings (FIXTURES.md A2).
ADVERSARIAL = ("", "N/A", "12,5", "1e310")
ADVERSARIAL_SHARE = 0.02


def device_name(i: int) -> str:
    return f"device-{i}"


def device_id(name: str) -> int:
    return int(name.rsplit("-", 1)[1])


#: The appliance CSV is written as this many files, so the scan, and the
#: extract behind it, run as that many tasks without a fan-out shuffle.
APPLIANCE_FILES = 4


def write_appliances(out_dir: str, n_devices: int, seed: int) -> None:
    """Headerless ``ip,hostname`` CSV of devices ``0..n_devices-1`` in
    ``APPLIANCE_FILES`` files under ``out_dir``, plus ~1% malformed
    single-field lines (dropped by the reader); ~1% of the device lines
    carry an extra field (ignored)."""
    rng = random.Random(seed)
    os.makedirs(out_dir)
    per_file = -(-n_devices // APPLIANCE_FILES)
    for k in range(APPLIANCE_FILES):
        path = os.path.join(out_dir, f"part-{k}.csv")
        with open(path, "w", encoding="utf-8") as fh:
            for i in range(k * per_file, min(n_devices, (k + 1) * per_file)):
                ip = f"10.{i >> 16}.{(i >> 8) & 255}.{i & 255}"
                roll = rng.random()
                if roll < 0.01:
                    fh.write(f"10.255.255.{i & 255}\n")
                extra = f",rack-{rng.randrange(40)}" if roll > 0.99 else ""
                fh.write(f"{ip},{device_name(i)}{extra}\n")


def device_stats(n_devices: int, seed: int) -> list[tuple[str, ...]]:
    """Per-device CpuStats strings, in ``STAT_FIELDS`` order.  About 2% of
    the cells hold an adversarial value from ``ADVERSARIAL``."""
    rng = np.random.default_rng([seed, 1])
    idle = rng.integers(0, 10001, n_devices) / 100
    small = rng.integers(0, 2001, (n_devices, 4)) / 100
    bad = rng.random((n_devices, 5)) < ADVERSARIAL_SHARE
    which = rng.integers(0, len(ADVERSARIAL), (n_devices, 5))
    out = []
    for i in range(n_devices):
        cells = [f"{idle[i]:g}"] + [f"{v:g}" for v in small[i]]
        for j in range(5):
            if bad[i, j]:
                cells[j] = ADVERSARIAL[which[i, j]]
        out.append(tuple(cells))
    return out


def parse_zero(text: str) -> float:
    """Reference cast: malformed numeric strings become 0.0, overflow
    becomes infinity (Spark's string->double cast)."""
    try:
        return float(text)
    except ValueError:
        return 0.0


def golden_indicators(stats: tuple[str, ...]) -> list[dict]:
    """The reference transform of one device's stats: ``utilization =
    100 - idle`` first, then nice, user, system, irq."""
    idle, nice, user, system, irq = (parse_zero(s) for s in stats)
    values = (100.0 - idle, nice, user, system, irq)
    return [{"name": n, "value": v} for n, v in zip(INDICATORS, values)]


def failure_schedule(seed: int, every: int, blocks: int = 64) -> list[bool]:
    """Which POSTs the receiver answers with HTTP 500: exactly one POST in
    each block of ``every``, at a seeded position.  ``every=0`` never
    fails."""
    if not every:
        return [False]
    rng = random.Random(seed * 7919 + 17)
    out: list[bool] = []
    for _ in range(blocks):
        block = [False] * every
        block[rng.randrange(every)] = True
        out.extend(block)
    return out


# ---------------------------------------------------------------------------
# Analytic tables for the query workloads (schema of the engine's
# TESTDATA.md tables; distributions after scripts/gen_sf.py).

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PNOUNS = ["ring", "bolt", "screw", "washer", "cog", "gear", "pin", "rod"]
PADJ = ["large", "hot", "small", "cold", "soft", "hard", "new", "old"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 2 + ["es", "fr", "zh"]
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "group", "agg", "sort",
    "scan", "hash", "query", "row", "key", "batch", "part", "line",
    "order", "fast", "slow", "big", "a", "dedup", "sample", "shuffle",
]
#: Rows at scale factor 1.
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
DAY_US = 86_400_000_000


def _write(out: str, name: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), os.path.join(out, f"{name}.parquet"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def write_tables(out: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten analytic tables at scale factor ``sf`` under ``out``.
    Returns row counts per table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    n = {t: max(1, int(c * sf)) for t, c in BASE_ROWS.items()}
    i64, i32 = pa.int64(), pa.int32()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(NATIONS), i32),
        "n_name": [f"NATION_{i:02d}" for i in range(NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(NATIONS)], i32),
    })
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, NATIONS, nc), i32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, NATIONS, ns), i32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2),
    })
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [
            f"{PADJ[a]} {PNOUNS[b]}"
            for a, b in zip(
                rng.integers(0, len(PADJ), npart),
                rng.integers(0, len(PNOUNS), npart),
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, npart), 2),
    })

    o_start = np.datetime64("1995-01-01").astype("datetime64[us]").astype("int64")
    odate = o_start + rng.integers(0, 2404, no) * DAY_US
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": [["O", "P", "F"][i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })

    per_order = np.clip(1 + rng.poisson(3.0, no), 1, 17)
    nl = int(per_order.sum())
    _write(out, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(no), per_order), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in per_order]), i32
        ),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(901.0, 104999.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": ["ANR"[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": ["OF"[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(
            np.repeat(odate, per_order) + rng.integers(1, 96, nl) * DAY_US
        ),
    })

    ne = n["events"]
    e_start = np.datetime64("2024-01-01").astype("datetime64[us]").astype("int64")
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": _ts(np.sort(e_start + rng.integers(0, 30 * DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), i64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.0, 560.0, ne), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(8, 105, nd)
    ]
    for i in range(nd // 500):  # a slice of exact duplicates
        texts[nd - 1 - i] = texts[i]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.09, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (nv, 64))).astype("float32")
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {
        t: pq.read_metadata(os.path.join(out, f"{t}.parquet")).num_rows
        for t in TABLES
    }
