"""Seeded input generation for the benchmark workloads.

Everything the program under test reads is made here from ``--seed``:

- ``write_tables``: the ten star-schema tables the query plans read
  (``region`` .. ``embeddings``), with the column names, types and value
  ranges of the sf-scaled test data the plans were written against. The
  seed changes the values, never the row counts, so every seed asks the
  program for the same amount of work.
- ``write_block_archives``: the block-follower feed as height-ordered JSONL
  archives (``blocks_<lo>_<hi>.jsonl``), one per microbatch.

Same seed, same bytes: generation uses only ``numpy.random.default_rng``
and ``random.Random`` seeded from the argument, and the parquet writer is
given fixed row-group settings.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 1; the benchmark runs at sf 0.1.
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "new", "old", "small", "large"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10
N_SOURCES = 20
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_DAY_US = 86_400 * 1_000_000


def _day_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, lo: tuple, hi: tuple, n: int) -> np.ndarray:
    a, b = _day_us(*lo), _day_us(*hi)
    return a + rng.integers(0, (b - a) // _DAY_US + 1, n) * _DAY_US


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, pyrng: random.Random, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary, 10-100 tokens each.
    About 5% are near-duplicates (another document's text plus ``dup``) and
    a few are exact copies, so the dedup, near-dup and contamination planes
    all find work."""
    texts: list[str] = []
    for _ in range(n):
        k = pyrng.randint(10, 100)
        texts.append(" ".join(pyrng.choice(WORDS) for _ in range(k)))
    ids = list(range(n))
    for i in pyrng.sample(ids, n // 20):
        texts[i] = texts[pyrng.randrange(n)] + " dup"
    for i in pyrng.sample(ids, max(1, n // 600)):
        texts[i] = texts[pyrng.randrange(n)]
    lang = rng.choice(LANGS, n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around ten weak label centroids (float32, dim 64)."""
    label = rng.integers(0, N_LABELS, n)
    centers = rng.normal(0.0, 0.1, (N_LABELS, EMBED_DIM))
    v = centers[label] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The tables at scale factor ``sf`` as Arrow tables. Each table draws
    from its own generator, seeded from ``seed`` and the table's index."""
    rows = {t: max(1, int(round(n * sf))) for t, n in _BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}
    for t in TABLES:
        rng = np.random.default_rng([seed, TABLES.index(t)])
        if t == "region":
            out[t] = pa.table(
                {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
            )
        elif t == "nation":
            out[t] = pa.table(
                {
                    "n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
                }
            )
        elif t == "customer":
            n = rows[t]
            out[t] = pa.table(
                {
                    "c_custkey": pa.array(np.arange(n), pa.int64()),
                    "c_name": _names("Customer", n),
                    "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
                    "c_acctbal": _money(rng, -999.99, 9999.99, n),
                    "c_mktsegment": rng.choice(SEGMENTS, n),
                }
            )
        elif t == "supplier":
            n = rows[t]
            out[t] = pa.table(
                {
                    "s_suppkey": pa.array(np.arange(n), pa.int64()),
                    "s_name": _names("Supplier", n),
                    "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
                    "s_acctbal": _money(rng, -999.99, 9999.99, n),
                }
            )
        elif t == "part":
            n = rows[t]
            keys = np.arange(n)
            out[t] = pa.table(
                {
                    "p_partkey": pa.array(keys, pa.int64()),
                    "p_name": [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
                    ],
                    "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
                    "p_type": rng.choice(PART_TYPES, n),
                    "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
                    "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
                }
            )
        elif t == "orders":
            n = rows[t]
            out[t] = pa.table(
                {
                    "o_orderkey": pa.array(np.arange(n), pa.int64()),
                    "o_custkey": pa.array(rng.integers(0, rows["customer"], n), pa.int64()),
                    "o_orderstatus": rng.choice(["F", "O", "P"], n),
                    "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
                    "o_orderdate": _ts(_dates(rng, (1995, 1, 1), (2001, 8, 1), n)),
                    "o_orderpriority": rng.choice(PRIORITIES, n),
                }
            )
        elif t == "lineitem":
            n = rows[t]
            out[t] = pa.table(
                {
                    "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), pa.int64()),
                    "l_partkey": pa.array(rng.integers(0, rows["part"], n), pa.int64()),
                    "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), pa.int64()),
                    "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
                    "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                    "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
                    "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
                    "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
                    "l_returnflag": rng.choice(["A", "N", "R"], n),
                    "l_linestatus": rng.choice(["F", "O"], n),
                    "l_shipdate": _ts(_dates(rng, (1995, 1, 2), (2001, 11, 4), n)),
                }
            )
        elif t == "events":
            n = rows[t]
            t0 = _day_us(2024, 1, 1)
            ts = np.sort(rng.integers(t0, t0 + 30 * _DAY_US, n))
            out[t] = pa.table(
                {
                    "event_id": pa.array(np.arange(n), pa.int64()),
                    "ts": _ts(ts),
                    "user_id": pa.array(rng.integers(0, max(1, n // 66), n), pa.int64()),
                    "event_type": rng.choice(EVENT_TYPES, n),
                    "value": np.round(rng.exponential(50.0, n), 2),
                    "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                }
            )
        elif t == "documents":
            out[t] = _documents(rng, random.Random(seed * 7919 + 1), rows[t])
        elif t == "embeddings":
            out[t] = _embeddings(rng, rows[t])
        else:
            raise ValueError(f"unknown table {t!r}")
    return out


def write_tables(directory: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<directory>/<table>.parquet`` for each table; returns row counts."""
    os.makedirs(directory, exist_ok=True)
    counts = {}
    for name, tbl in make_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(directory, f"{name}.parquet"), row_group_size=1 << 20)
        counts[name] = tbl.num_rows
    return counts


# -- block-follower feed ---------------------------------------------------


def block_archive_lines(seed: int, n_blocks: int, per_archive: int) -> list[tuple[str, list[str]]]:
    """``[(file_name, jsonl_lines)]`` for a height-ordered feed of
    ``n_blocks`` blocks, ``per_archive`` blocks per file — the archive shape
    the follower consumes, with transactions from the repository's
    deterministic chain fixture (all reference transaction types)."""
    from tests.fixtures_blockchain import gen_transactions

    blocks, txns = gen_transactions(seed=seed, n_blocks=n_blocks)
    by_height: dict[int, list] = {}
    for t in txns:
        by_height.setdefault(t["block"], []).append(t)
    block_time = {b["height"]: b["time"] for b in blocks}
    out = []
    for lo in range(1, n_blocks + 1, per_archive):
        hi = min(lo + per_archive - 1, n_blocks)
        lines = [
            json.dumps(
                {
                    "height": h,
                    "block_hash": f"bh{h:05d}",
                    "time": block_time[h],
                    "txns": [
                        {"hash": t["hash"], "type": t["type"], "fields": t["fields"]}
                        for t in by_height.get(h, [])
                    ],
                },
                sort_keys=True,
            )
            for h in range(lo, hi + 1)
        ]
        out.append((f"blocks_{lo}_{hi}.jsonl", lines))
    return out


def write_block_archives(directory: str, seed: int, n_blocks: int, per_archive: int) -> int:
    """Write the follower feed; returns the number of transactions."""
    os.makedirs(directory, exist_ok=True)
    n_txns = 0
    for name, lines in block_archive_lines(seed, n_blocks, per_archive):
        with open(os.path.join(directory, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        n_txns += sum(len(json.loads(line)["txns"]) for line in lines)
    return n_txns
