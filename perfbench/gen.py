"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is written here, in one
process, from ``numpy.random.default_rng(seed)``: the same seed always
gives byte-identical inputs, and the program receives only the files.

- ``star_schema``: the TPC-H-like tables plus ``events``, ``documents``
  and ``embeddings``, with the schemas and value ranges of the repo's
  sf0.1 test data (keys are dense ``0..n-1``).
- ``landing_csv``: the reference job's raw CSV drop with a known number
  of planted bad rows.
- ``cdc_windows``: the lakehouse merge sources (contiguous key windows
  with the price raised by 1) and the read windows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# rows at scale factor 1 (the sf0.1 test data holds a tenth of each)
SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
EMBED_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05

_DAY_US = 86_400 * 1_000_000


def _days(start: str, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    return base + rng.integers(0, n_days, size) * _DAY_US


def _cents(lo: float, hi: float, size: int, rng) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def star_schema(out_dir: str, seed: int, sf: float, tables: tuple[str, ...]) -> None:
    """Write the requested ``tables`` as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(rows * sf)) for t, rows in SF1_ROWS.items()}

    if "region" in tables:
        _write(out_dir, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        })
    if "nation" in tables:
        _write(out_dir, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if "customer" in tables:
        k = n["customer"]
        _write(out_dir, "customer", {
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _cents(-999.99, 9999.99, k, rng),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)],
        })
    if "supplier" in tables:
        k = n["supplier"]
        _write(out_dir, "supplier", {
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _cents(-999.99, 9999.99, k, rng),
        })
    if "part" in tables:
        k = n["part"]
        names = np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, k)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, k)],
        )
        _write(out_dir, "part", {
            "p_partkey": np.arange(k, dtype=np.int64),
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(0, 25, k).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, k)],
            "p_size": rng.integers(1, 51, k).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(k) % 1000) / 10.0,
        })
    if "orders" in tables:
        _write(out_dir, "orders", orders_columns(n["orders"], n["customer"], rng))
    if "lineitem" in tables:
        k = n["lineitem"]
        qty = rng.integers(1, 51, k).astype(np.float64)
        flags = np.array(["A", "N", "R"])[rng.integers(0, 3, k)]
        _write(out_dir, "lineitem", {
            "l_orderkey": rng.integers(0, n["orders"], k),
            "l_partkey": rng.integers(0, n["part"], k),
            "l_suppkey": rng.integers(0, n["supplier"], k),
            "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _cents(900.0, 104999.99, k, rng),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": flags,
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
            "l_shipdate": _ts(_days("1995-01-02", 2498, k, rng)),
        })
    if "events" in tables:
        k = n["events"]
        start = np.datetime64("2024-01-01", "us").astype(np.int64)
        ts = np.sort(start + rng.integers(0, 30 * _DAY_US, k))
        _write(out_dir, "events", {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(1, k // 66), k),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, k)],
            "value": _cents(0.0, 560.0, k, rng),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        })
    if "documents" in tables:
        k = n["documents"]
        texts = _documents(k, rng)
        _write(out_dir, "documents", {
            "doc_id": np.arange(k, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, k, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
    if "embeddings" in tables:
        k = n["embeddings"]
        v = rng.standard_normal((k, EMBED_DIM)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        flat = pa.array(v.reshape(-1), pa.float32())
        _write(out_dir, "embeddings", {
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, k).astype(np.int32),
        })


def orders_columns(k: int, n_customers: int, rng) -> dict:
    return {
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, k),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
        "o_totalprice": _cents(1000.0, 499999.99, k, rng),
        "o_orderdate": _ts(_days("1995-01-01", 2404, k, rng)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)],
    }


def _documents(k: int, rng) -> list[str]:
    """Random-word documents; ``DUP_SHARE`` of them copy an earlier
    document and append ``dup`` (the near-duplicates dedup must find)."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, k)
    words = vocab[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(k)]
    for i in np.flatnonzero(rng.random(k) < DUP_SHARE):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


# --- etl_ingest landing files -------------------------------------------

# shares of the landing rows by time format; the rest are valid
# dd/MM/yyyy HH:mm:ss timestamps
SHARE_TWO_DIGIT_YEAR = 0.15
SHARE_DATE_ONLY = 0.04
SHARE_IMPOSSIBLE = 0.01
SHARE_EMPTY_TRAFFIC = 0.005


def landing_csv(out_dir: str, seed: int, rows: int, files: int) -> dict[str, int]:
    """Write ``files`` CSV files of (time, traffic) strings totalling
    ``rows`` rows. Every row the reference would reject is planted here
    and counted: an impossible calendar date (31/02, 30/02, 31/04...) or
    an empty traffic cell, never both in one row."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    start = np.datetime64("2023-01-01", "s").astype(np.int64)
    secs = start + rng.integers(0, 730 * 86_400, rows)
    ts = pa.array(secs, pa.int64()).cast(pa.timestamp("s"))
    kind = rng.permutation(rows)  # rank decides the row's format
    n_imp = round(rows * SHARE_IMPOSSIBLE)
    n_empty = round(rows * SHARE_EMPTY_TRAFFIC)
    n_date = round(rows * SHARE_DATE_ONLY)
    n_yy = round(rows * SHARE_TWO_DIGIT_YEAR)
    time = np.array(pc.strftime(ts, format="%d/%m/%Y %H:%M:%S"), dtype=object)
    cut = np.cumsum([n_imp, n_empty, n_date, n_yy])
    yy = (kind >= cut[2]) & (kind < cut[3])
    date_only = (kind >= cut[1]) & (kind < cut[2])
    time[yy] = np.array(pc.strftime(ts.filter(pa.array(yy)), format="%d/%m/%y %H:%M:%S"))
    time[date_only] = np.array(pc.strftime(ts.filter(pa.array(date_only)), format="%d/%m/%Y"))
    impossible = kind < cut[0]
    bad_day = np.array(["30/02", "31/02", "31/04", "31/06", "31/09", "31/11"])
    years = rng.integers(2023, 2025, n_imp)
    time[impossible] = [
        f"{d}/{y} {h:02d}:{m:02d}:00"
        for d, y, h, m in zip(
            bad_day[rng.integers(0, 6, n_imp)], years,
            rng.integers(0, 24, n_imp), rng.integers(0, 60, n_imp),
        )
    ]
    traffic = pa.array(rng.integers(0, 1_000_000, rows) / 100.0).cast(pa.string())
    empty = (kind >= cut[0]) & (kind < cut[1])
    traffic = pc.if_else(pa.array(empty), pa.scalar(None, pa.string()), traffic)
    table = pa.table({"time": pa.array(time, pa.string()), "traffic": traffic})
    per_file = -(-rows // files)
    opts = pacsv.WriteOptions(quoting_style="needed")
    for i in range(files):
        pacsv.write_csv(
            table.slice(i * per_file, per_file),
            os.path.join(out_dir, f"traffic_{i:02d}.csv"),
            opts,
        )
    return {"rows": rows, "planted_bad": n_imp + n_empty}


# --- lakehouse_merge CDC windows ----------------------------------------


def cdc_windows(
    out_dir: str,
    seed: int,
    orders_path: str,
    n_merges: int,
    merge_keys: int,
    reads_per_merge: int,
    read_keys: int,
) -> dict:
    """Write merge source ``i`` as ``<out_dir>/merge_{i:03d}.parquet``:
    the orders rows of a seeded contiguous key window with
    ``o_totalprice`` raised by 1.00 over its value after merges
    ``0..i-1``. Returns the first key of every merge window and, per
    merge, the first keys of the range reads that follow it."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 1)
    orders = pq.read_table(orders_path)
    n = orders.num_rows
    cents = np.round(orders.column("o_totalprice").to_numpy() * 100).astype(np.int64)
    merge_lo = rng.integers(0, n - merge_keys + 1, n_merges)
    read_lo = rng.integers(0, n - read_keys + 1, (n_merges, reads_per_merge))
    for i, lo in enumerate(merge_lo):
        cents[lo:lo + merge_keys] += 100
        window = orders.slice(int(lo), merge_keys)
        price = pa.array(cents[lo:lo + merge_keys] / 100.0)
        window = window.set_column(
            window.schema.get_field_index("o_totalprice"), "o_totalprice", price
        )
        pq.write_table(window, os.path.join(out_dir, f"merge_{i:03d}.parquet"))
    return {"merge_lo": merge_lo.tolist(), "read_lo": read_lo.tolist()}
