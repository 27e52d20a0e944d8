"""Seeded input generator.

Every table the workloads read is a pure function of ``(seed, sizes)``:
the star schema (``region nation customer supplier part orders lineitem
events``) in the same column names and physical types as the engine's
driver test data, and the LLM corpus (``documents embeddings``). No file
outside the benchmark's own run directory is read.

Injected defects, all seeded:

* ``lineitem.l_shipdate`` — a share of rows carry the DD-MM-YY misparse
  (day and year swapped, so the ship date lands decades after its order)
  that ``date_repair_from_dim`` repairs from the orders dimension;
* ``events`` — a share of rows with NULL ``user_id``/``event_type``/
  ``value``/``props`` for the null audit;
* ``documents`` — the corpus is ``copies`` key-offset replicas of a base
  set; a share of the replicas gets a word-level perturbation, so exact
  and near duplicate clusters both exist. ``embeddings`` replicate the
  same way with small vector noise.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "green", "red")
PART_NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64
KEY_OFFSET = 10_000_000  # replica key offset (tools/make_scale_data.py)

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclass(frozen=True)
class Sizes:
    """Row counts of the generated inputs (dims derive from lineitem)."""

    lineitem: int
    base_docs: int
    doc_copies: int
    base_vecs: int
    bad_date_frac: float = 0.02
    null_event_frac: float = 0.005
    perturb_frac: float = 0.3

    @property
    def orders(self) -> int:
        return max(self.lineitem // 4, 10)

    @property
    def customer(self) -> int:
        return max(self.lineitem // 40, 10)

    @property
    def part(self) -> int:
        return max(self.lineitem // 30, 10)

    @property
    def supplier(self) -> int:
        return max(self.lineitem // 600, 5)

    @property
    def events(self) -> int:
        return max(self.lineitem // 6, 10)

    @property
    def documents(self) -> int:
        return self.base_docs * self.doc_copies

    @property
    def embeddings(self) -> int:
        return self.base_vecs * self.doc_copies


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    """Midnight timestamps (µs) in [1995-01-01, +days)."""
    return _EPOCH_1995 + rng.integers(0, days, n) * _US_PER_DAY


def star_tables(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    n_l, n_o, n_c, n_p, n_s, n_e = (
        s.lineitem, s.orders, s.customer, s.part, s.supplier, s.events,
    )
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_c),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
        }
    )
    adj = rng.choice(PART_ADJ, n_p)
    noun = rng.choice(PART_NOUN, n_p)
    part = pa.table(
        {
            "p_partkey": np.arange(n_p, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": rng.choice(PART_TYPES, n_p),
            "p_size": rng.integers(1, 51, n_p).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(n_p) % 1000 * 0.1, 2),
        }
    )
    o_date = _dates(rng, n_o, 2404)  # 1995-01-01 .. 2001-08
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
            "o_orderstatus": rng.choice(("O", "F", "P"), n_o),
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_o), 2),
            "o_orderdate": _ts(o_date),
            "o_orderpriority": rng.choice(PRIORITIES, n_o),
        }
    )
    l_order = rng.integers(0, n_o, n_l).astype(np.int64)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    ship = o_date[l_order] + rng.integers(1, 122, n_l) * _US_PER_DAY
    # DD-MM-YY misparse: ship dates pushed ~30 years out
    bad = rng.random(n_l) < s.bad_date_frac
    ship[bad] = ship[bad] + rng.integers(9_000, 11_000, int(bad.sum())) * _US_PER_DAY
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
            "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 5000, n_l), 2),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(("N", "R", "A"), n_l),
            "l_linestatus": rng.choice(("F", "O"), n_l),
            "l_shipdate": _ts(ship),
        }
    )
    null_mask = rng.random(n_e) < s.null_event_frac

    def nullable(values, dtype=None) -> pa.Array:
        return pa.array(values, dtype, mask=null_mask & (rng.random(n_e) < 0.5))

    ev_ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_e))
    events = pa.table(
        {
            "event_id": np.arange(n_e, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": nullable(rng.integers(0, 1500, n_e), pa.int64()),
            "event_type": nullable(rng.choice(EVENT_TYPES, n_e)),
            "value": nullable(np.round(rng.exponential(50.0, n_e), 2)),
            "props": nullable([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def random_texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 10..100 words drawn from ``VOCAB``."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    out, at = [], 0
    for ln in lengths:
        out.append(" ".join(VOCAB[w] for w in words[at : at + ln]))
        at += ln
    return out


def perturb(rng: np.random.Generator, text: str, frac: float = 0.1) -> str:
    """Replace about ``frac`` of the words with other vocabulary words."""
    words = text.split()
    for i in np.flatnonzero(rng.random(len(words)) < frac):
        words[i] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(words)


def corpus_tables(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    base = random_texts(rng, s.base_docs)
    ids, texts = [], []
    for copy in range(s.doc_copies):
        for i, t in enumerate(base):
            if copy and rng.random() < s.perturb_frac:
                t = perturb(rng, t)
            ids.append(copy * KEY_OFFSET + i)
            texts.append(t)
    n = len(ids)
    documents = pa.table(
        {
            "doc_id": np.array(ids, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vbase = rng.standard_normal((s.base_vecs, EMB_DIM))
    vecs, vids = [], []
    for copy in range(s.doc_copies):
        v = vbase.copy()
        if copy:
            noisy = rng.random(s.base_vecs) < s.perturb_frac
            v[noisy] += 0.05 * rng.standard_normal((int(noisy.sum()), EMB_DIM))
        vecs.append(v)
        vids.append(copy * KEY_OFFSET + np.arange(s.base_vecs))
    v = np.concatenate(vecs)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.concatenate(vids).astype(np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, len(v)).astype(np.int32),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def generate(seed: int, s: Sizes) -> dict[str, pa.Table]:
    """All ten input tables for ``seed``; same seed, same tables."""
    rng = np.random.default_rng(seed)
    return {**star_tables(rng, s), **corpus_tables(rng, s)}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))

