"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: one numpy
``Generator`` per table, seeded from the run seed and the table name, and
parquet written with fixed writer settings, so the same seed gives
byte-identical files and another seed gives other files. Schemas follow
the engine's fixture tables (FIXTURES.md). The engine only ever sees the
written tables; the ground truth each generator returns (injected
near-duplicate pairs, late-event ids, exact neighbours) stays with the
benchmark and is used to check outputs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_DAY = np.datetime64("1970-01-01", "D")


def rng_for(seed: int, table: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, table)."""
    digest = hashlib.sha256(f"{seed}:{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def write_table(table: pa.Table, path: str) -> None:
    """Deterministic parquet bytes: fixed writer settings, no created-by
    drift within one pyarrow version, one row group per 256k rows."""
    pq.write_table(
        table, path, compression="snappy", row_group_size=262_144,
        write_statistics=True, use_dictionary=True,
    )


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    """Bounded Zipf: rank r in [0, n_items) with P(r) proportional to 1/(r+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_items - 1)


def _days(start: str, offsets: np.ndarray) -> pa.Array:
    """Midnight timestamps (timestamp[us], no tz) start + offsets days."""
    base = (np.datetime64(start, "D") - _EPOCH_DAY).astype(np.int64)
    us = (base + offsets.astype(np.int64)) * 86_400_000_000
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


# --------------------------------------------------------------------------
# warehouse_sql: TPC-H-shaped star schema with Zipf-skewed part keys
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["red", "blue", "small", "large", "old", "new", "hot", "cold"]
P_NOUN = ["widget", "bolt", "gear", "ring", "plate", "anvil", "gizmo", "rod"]
P_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@dataclass
class Inputs:
    """What a generator wrote: table name -> row count, plus the ground
    truth that stays with the benchmark."""

    dir: str
    rows: dict[str, int]
    truth: dict = field(default_factory=dict)

    @property
    def total_rows(self) -> int:
        return sum(self.rows.values())


def gen_warehouse(out_dir: str, seed: int, lineitem_rows: int) -> Inputs:
    n_orders = max(lineitem_rows // 4, 10)
    n_cust = max(n_orders // 10, 10)
    n_part = max(lineitem_rows // 50, 50)
    n_supp = max(n_part // 20, 10)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = rng_for(seed, "customer")
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })
    r = rng_for(seed, "supplier")
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = rng_for(seed, "part")
    # whole-unit prices: discounted line prices then have exactly two
    # decimals, so no revenue sum lands on a rounding tie at two decimals
    retail = (900 + r.integers(0, 1100, n_part)).astype(np.float64)
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(np.array(P_ADJ)[r.integers(0, 8, n_part)], " "),
            np.array(P_NOUN)[r.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(P_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": retail,
    })
    r = rng_for(seed, "orders")
    o_day = r.integers(0, 2400, n_orders)  # 1995-01-01 .. ~2001-07
    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _days("1995-01-01", o_day),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_orders)],
    })
    r = rng_for(seed, "lineitem")
    okey = np.sort(r.integers(0, n_orders, lineitem_rows)).astype(np.int64)
    first = np.r_[True, okey[1:] != okey[:-1]]
    starts = np.flatnonzero(first)
    linenumber = np.arange(lineitem_rows) - np.repeat(starts, np.diff(np.r_[starts, lineitem_rows]))
    # Zipf-skewed part popularity, hot parts scattered over the key space
    part_of_rank = r.permutation(n_part)
    partkey = part_of_rank[zipf_ranks(r, n_part, lineitem_rows, 1.1)].astype(np.int64)
    qty = r.integers(1, 51, lineitem_rows).astype(np.float64)
    put("lineitem", {
        "l_orderkey": okey,
        "l_partkey": partkey,
        "l_suppkey": r.integers(0, n_supp, lineitem_rows, dtype=np.int64),
        "l_linenumber": (linenumber + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": r.integers(0, 11, lineitem_rows) / 100.0,
        "l_tax": r.integers(0, 9, lineitem_rows) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, lineitem_rows)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, lineitem_rows)],
        "l_shipdate": _days("1995-01-01", o_day[okey] + r.integers(1, 122, lineitem_rows)),
    })
    return Inputs(out_dir, rows)


# --------------------------------------------------------------------------
# corpus_dedup: multilingual corpus, injected near-duplicates and PII
# --------------------------------------------------------------------------

LANGS = ["de", "en", "es", "fr", "zh"]
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da", "fe", "gu",
        "ha", "ji", "ko", "pu"]


def _vocab(lang_idx: int, size: int = 600) -> np.ndarray:
    """Fixed synthetic vocabulary per language (seed-independent): words of
    two to three syllables with a language-specific suffix letter."""
    r = np.random.default_rng(1000 + lang_idx)
    n_syl = r.integers(2, 4, size)
    syl = r.integers(0, len(_SYL), (size, 3))
    suffix = "nrstl"[lang_idx]
    words = ["".join(_SYL[s] for s in syl[i, : n_syl[i]]) + suffix for i in range(size)]
    return np.array(sorted(set(words)))


def _pii(r: np.random.Generator) -> str:
    kind = r.integers(0, 3)
    if kind == 0:
        return f"user{r.integers(0, 10**6)}@mail{r.integers(0, 99)}.example.com"
    if kind == 1:
        d = r.integers(0, 10, 10)
        return f"+{r.integers(1, 99)}-{''.join(map(str, d[:3]))}-{''.join(map(str, d[3:6]))}-{''.join(map(str, d[6:]))}"
    return ".".join(str(x) for x in r.integers(1, 255, 4))


def gen_corpus(out_dir: str, seed: int, n_docs: int, dup_rate: float = 0.1,
               pii_rate: float = 0.2, junk_rate: float = 0.05) -> Inputs:
    """Documents of 40-90 Zipf-drawn words. ``dup_rate`` of them are
    near-copies (one to two substituted words) of a distinct earlier
    original -- the injected pairs. ``junk_rate`` are short or
    punctuation-heavy and never part of a pair (the quality gate drops
    them). ``pii_rate`` carry an email, phone number or IPv4 address."""
    r = rng_for(seed, "documents")
    vocabs = [_vocab(i) for i in range(len(LANGS))]
    lang = r.integers(0, len(LANGS), n_docs)
    kind = r.random(n_docs)  # < junk: junk, < junk+dup: near-dup copy
    texts: list[str] = []
    pairs: list[tuple[int, int]] = []
    fresh: list[list[int]] = [[] for _ in LANGS]  # unused originals per language
    for i in range(n_docs):
        v = vocabs[lang[i]]
        if kind[i] < junk_rate:
            if r.random() < 0.5:
                words = list(v[zipf_ranks(r, len(v), int(r.integers(3, 8)), 1.05)])
            else:
                words = [w + "!!?" for w in v[zipf_ranks(r, len(v), 20, 1.05)]]
            texts.append(" ".join(words))
            continue
        pool = fresh[lang[i]]
        if kind[i] < junk_rate + dup_rate and pool:
            src = pool.pop(int(r.integers(0, len(pool))))
            words = texts[src].split(" ")
            for _ in range(int(r.integers(1, 3))):
                pos = int(r.integers(0, len(words)))
                words[pos] = str(v[int(r.integers(0, len(v)))])
            texts.append(" ".join(words))
            pairs.append((src, i))
            continue
        words = [str(w) for w in v[zipf_ranks(r, len(v), int(r.integers(40, 91)), 1.05)]]
        if r.random() < pii_rate:
            words.insert(int(r.integers(0, len(words))), _pii(r))
        texts.append(" ".join(words))
        pool.append(i)
    os.makedirs(out_dir, exist_ok=True)
    t = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[lang],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    write_table(t, os.path.join(out_dir, "documents.parquet"))
    return Inputs(out_dir, {"documents": n_docs}, {"pairs": pairs})


# --------------------------------------------------------------------------
# event_stream: event batches with Zipf user keys, out-of-order and late share
# --------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


@dataclass(frozen=True)
class EventShape:
    """Per-file event layout: ``offsets_us`` are event times relative to the
    file's due time; ``late`` marks events placed ``late_us`` behind it,
    far enough that they land behind the watermark and must be dropped."""

    n_users: int = 200
    ooo_share: float = 0.1      # out-of-order, but within the watermark delay
    late_share: float = 0.01    # behind the watermark
    ooo_us: int = 300_000
    late_us: int = 60_000_000


def event_batch(seed: int, file_idx: int, n: int, first_id: int, base_us: int,
                span_us: int, shape: EventShape, allow_late: bool) -> tuple[pa.Table, np.ndarray]:
    """One event file: ``n`` events with ids ``first_id..``, times spread
    over ``[base_us - span_us, base_us)`` plus out-of-order jitter and
    (when ``allow_late``) a late share. Returns the table and the ids of
    the late events."""
    r = rng_for(seed, f"events-{file_idx}")
    ts = base_us - span_us + np.sort(r.integers(0, span_us, n))
    ooo = r.random(n) < shape.ooo_share
    ts = ts - np.where(ooo, r.integers(0, shape.ooo_us, n), 0)
    late = (r.random(n) < shape.late_share) & allow_late
    ts = np.where(late, base_us - shape.late_us - r.integers(0, 1_000_000, n), ts)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    t = pa.table({
        "event_id": ids,
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "user_id": zipf_ranks(r, shape.n_users, n, 1.1).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.uniform(0, 200, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n)],
    }, schema=EVENTS_SCHEMA)
    return t, ids[late]


BACKLOG_BASE_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)


def gen_backlog(out_dir: str, seed: int, n_files: int, per_file: int,
                shape: EventShape, span_us: int = 1_000_000) -> Inputs:
    """Pre-written backlog: ``n_files`` files of ``per_file`` events, one
    ``span_us`` of event time each, starting at a fixed 2024 epoch, with
    out-of-order events but no late ones. File mtimes are forced increasing
    so the file source replays them in order."""
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        t, _ = event_batch(seed, f, per_file, f * per_file,
                           BACKLOG_BASE_US + (f + 1) * span_us, span_us, shape,
                           allow_late=False)
        path = os.path.join(out_dir, f"backlog-{f:04d}.parquet")
        write_table(t, path)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    return Inputs(out_dir, {"events": n_files * per_file})


# --------------------------------------------------------------------------
# vector_search: clustered 64-d embeddings and a held-out query set
# --------------------------------------------------------------------------

DIM = 64


def gen_vectors(out_dir: str, seed: int, n_vectors: int, n_queries: int,
                n_clusters: int = 64) -> Inputs:
    """Gaussian clusters on the unit sphere; queries are drawn from the same
    mixture and written separately (ids offset so they never collide with
    corpus ids)."""
    r = rng_for(seed, "embeddings")
    centers = r.normal(size=(n_clusters, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(n: int) -> tuple[np.ndarray, np.ndarray]:
        label = r.integers(0, n_clusters, n)
        x = centers[label] + r.normal(scale=0.12, size=(n, DIM))
        return x.astype(np.float32), label.astype(np.int32)

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, n, first in (("embeddings", n_vectors, 0), ("queries", n_queries, 1_000_000_000)):
        x, label = draw(n)
        t = pa.table({
            "vec_id": np.arange(first, first + n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(x.reshape(-1), DIM).cast(pa.list_(pa.float32())),
            "label": label,
        })
        write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = n
    return Inputs(out_dir, rows)


def dir_digest(path: str) -> str:
    """sha256 over the sorted file names and bytes under ``path``."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
