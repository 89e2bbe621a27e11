"""Seeded input generators.

Every generator takes a ``seed`` and draws from its own
``numpy.random.default_rng``, so one seed always yields byte-identical
parquet files (same pyarrow, same writer options) and another seed yields
different ones.  The program only ever sees the files.

Inputs go to seed-keyed directories that are new for every set-up: the
program caches derived data by path (the streaming stage directory) or
by size and mtime (the text snapshots), so reusing a path across seeds
would silently serve stale input.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Value domains mirror the read-only sf fixtures the registry queries
# and their DuckDB oracles were written against.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
#: the fixture corpus's 30-word vocabulary (plus its rare ``dup`` marker)
TEMPLATE_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US = pa.timestamp("us")
_EPOCH_1995 = int(dt.datetime(1995, 1, 1).timestamp()) * 1_000_000
EPOCH_2024_US = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
DAY_US = 86_400 * 1_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # the bytes of another
    return np.random.default_rng([seed, *stream.encode()])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(words: np.ndarray, lengths: np.ndarray) -> list[str]:
    out, pos = [], 0
    for n in lengths:
        out.append(" ".join(words[pos:pos + n]))
        pos += n
    return out


def events_table(seed: int, n: int, n_users: int, stream: str = "events",
                 first_id: int = 0) -> pa.Table:
    """Event rows with the fixture's schema; timestamps are sorted
    uniform draws over the fixture's 30 days."""
    r = _rng(seed, stream)
    ts = np.sort(EPOCH_2024_US + r.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(_US),
        "user_id": pa.array(r.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
        "value": pa.array(_money(r, 0.01, 490.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def session_events(seed: int, n: int, stream: str = "session-events") -> pa.Table:
    """Event rows with the fixture's schema, drawn as user sessions: the
    seed sets the user count and the mean gap within a session; the gap
    between sessions is always beyond the 30-minute session gap."""
    r = _rng(seed, stream)
    n_users = int(r.integers(40, 120))
    mean_gap_us = int(r.integers(2, 10)) * 60 * 1_000_000
    user = np.sort(r.integers(0, n_users, n))
    # a new session starts with probability 1/8 at each event of a user
    new = r.random(n) < 0.125
    gap = np.where(new, r.integers(40, 600, n) * 60 * 1_000_000,
                   r.exponential(mean_gap_us, n).astype(np.int64) + 1)
    first = np.r_[True, user[1:] != user[:-1]]
    gap[first] = r.integers(0, 5 * DAY_US, int(first.sum()))
    # per-user running sum of the gaps, restarted at each user's first event
    csum = np.cumsum(gap)
    ts = csum - np.maximum.accumulate(np.where(first, csum - gap, 0))
    order = np.lexsort((user, ts))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(EPOCH_2024_US + ts[order], pa.int64()).cast(_US),
        "user_id": pa.array(user[order], pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
        "value": pa.array(_money(r, 0.01, 490.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def _plant_duplicates(texts: list[str], r: np.random.Generator, share: float,
                      marker: str) -> list[str]:
    """Overwrite ``share`` of the second half with copies of first-half
    documents: even-numbered copies exact, odd ones with one word
    replaced by ``marker`` plus a counter (a near duplicate)."""
    n = len(texts)
    k = int(n * share)
    src = r.choice(np.arange(n // 2), k, replace=False)
    dst = r.choice(np.arange(n // 2, n), k, replace=False)
    for j, (a, b) in enumerate(zip(src, dst)):
        words = texts[a].split(" ")
        if j % 2:
            words[r.integers(0, len(words))] = f"{marker}{j}"
        texts[b] = " ".join(words)
    return texts


def templated_corpus(seed: int, n: int, lengths: tuple[int, int] = (10, 100),
                     dup_share: float = 0.0, stream: str = "templated") -> list[str]:
    """Documents drawn uniformly from the 30-word template vocabulary:
    every word sits in a large share of documents, so Σdf² is large
    for few documents."""
    r = _rng(seed, stream)
    lens = r.integers(lengths[0], lengths[1], n)
    words = np.array(TEMPLATE_VOCAB)[r.integers(0, len(TEMPLATE_VOCAB), lens.sum())]
    texts = _texts(words, lens)
    # the fixture's rare marker token
    for i in np.flatnonzero(r.random(n) < 0.05):
        texts[i] += " dup"
    return _plant_duplicates(texts, r, dup_share, "t")


def natural_corpus(seed: int, n: int, vocab: int = 20_000, dup_share: float = 0.2,
                   stream: str = "natural") -> list[str]:
    """Zipf-vocabulary documents with a fixed share of planted exact and
    near duplicates: few words are shared by many documents, so Σdf²
    stays small."""
    r = _rng(seed, stream)
    lens = r.integers(20, 60, n)
    ranks = np.minimum(r.zipf(1.3, lens.sum()), vocab) - 1
    texts = _texts(np.char.add("w", ranks.astype(str)), lens)
    return _plant_duplicates(texts, r, dup_share, "x")


def documents_table(texts: list[str], seed: int, stream: str = "docmeta") -> pa.Table:
    r = _rng(seed, stream)
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in r.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n: int, dim: int = 64, stream: str = "embeddings") -> pa.Table:
    r = _rng(seed, stream)
    vecs = r.normal(0.0, 0.125, (n, dim)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), dim).cast(
            pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def sf_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (row counts follow
    the fixture: lineitem = 6M × sf, documents and embeddings floored at
    500)."""
    n_supp, n_cust = int(1_000_000 * sf / 10), int(150_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    r = _rng(seed, "part")
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(np.array(PART_ADJ)[r.integers(0, 8, n_part)], " "),
                              np.array(PART_NOUN)[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    r = _rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_EPOCH_1995 + r.integers(0, 2400, n_ord) * DAY_US,
                                pa.int64()).cast(_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    r = _rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_EPOCH_1995 + (1 + r.integers(0, 2499, n_line)) * DAY_US,
                               pa.int64()).cast(_US)})
    t["events"] = events_table(seed, n_ev, int(15_000 * sf))
    t["documents"] = documents_table(templated_corpus(seed, n_doc), seed)
    t["embeddings"] = embeddings_table(seed, n_emb)
    return t


def write_sf_dir(path: str, seed: int, sf: float, **overrides: pa.Table) -> str:
    """Write an sf-shaped directory; ``overrides`` replace whole tables
    (the operator and ETL workloads swap in their own documents or
    events but keep every table the catalog expects)."""
    tables = sf_tables(seed, sf)
    tables.update(overrides)
    os.makedirs(path, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(path, f"{name}.parquet"))
    return path


def file_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
