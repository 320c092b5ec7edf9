"""Seeded inputs for the benchmark workloads.

Every generator here is a pure function of its seed (numpy ``default_rng``)
and writes plain parquet with pyarrow, so the same seed gives byte-identical
files and the program under test only ever sees the generated inputs.

The star-schema tables mirror the shapes of the repository's fixture tables
(FIXTURES.md): the same column names, types and value domains, scaled by
``sf`` the same way (customer 150k·sf, orders 1.5M·sf, ~4 lines per order,
events 1M·sf, a fixed 500-row documents and embeddings table).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "vector order line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
P_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86400 * 10**6


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, lo: str, days: int, n: int) -> np.ndarray:
    return np.datetime64(lo, "us") + rng.integers(0, days, n).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def unit_rows(rng: np.random.Generator, centers: np.ndarray, labels: np.ndarray,
              noise: float) -> np.ndarray:
    x = centers[labels] + noise * rng.standard_normal((len(labels), centers.shape[1]))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32)


def vector_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def lineitem_frame(rng: np.random.Generator, orderkeys: np.ndarray, n_parts: int,
                   n_supp: int) -> dict[str, np.ndarray]:
    """TPC-H-like lines: 1..7 lines per order, (orderkey, linenumber) unique."""
    per = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, per)
    ln = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    n = len(ok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": ok.astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _dates(rng, "1995-01-02", 2499, n),
    }


def events_frame(rng: np.random.Generator, first_id: int, n: int, n_users: int,
                 t0: np.datetime64 = EVENTS_T0, span_us: int = EVENTS_SPAN_US
                 ) -> dict[str, np.ndarray]:
    ts = t0 + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def write_tables(sf_dir: str, sf: float, seed: int) -> None:
    """The ten star-schema tables at scale ``sf`` under ``sf_dir``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 15)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 150)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{sf_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{sf_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }), f"{sf_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), f"{sf_dir}/supplier.parquet")
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    }), f"{sf_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }), f"{sf_dir}/orders.parquet")
    li = lineitem_frame(rng, np.arange(n_ord), n_part, n_supp)
    _write(pa.table(li), f"{sf_dir}/lineitem.parquet")
    _write(pa.table(events_frame(rng, 0, n_ev, n_users)), f"{sf_dir}/events.parquet")

    # documents: 475 random texts plus 25 near-duplicates (" dup" suffix)
    n_doc, n_dup = 500, 25
    texts = [_text(rng, int(k)) for k in rng.integers(10, 100, n_doc - n_dup)]
    texts += [texts[int(i)] + " dup" for i in rng.choice(n_doc - n_dup, n_dup, replace=False)]
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{sf_dir}/documents.parquet")

    centers = rng.standard_normal((10, DIM))
    labels = rng.integers(0, 10, 500).astype(np.int32)
    vecs = unit_rows(rng, centers, labels, 6.0)
    _write(vector_table(np.arange(500), vecs, labels), f"{sf_dir}/embeddings.parquet")


def write_corpus(path: str, corpus: np.ndarray, labels: np.ndarray) -> None:
    _write(vector_table(np.arange(len(corpus)), corpus, labels), path)


@dataclass
class CdcStream:
    """Seeded 1% CDC batches against a lineitem table. The generator keeps a
    model of the table so every batch updates and deletes live keys and
    inserts fresh ones; ``table`` is what a correct MERGE leaves behind."""

    table: dict[str, np.ndarray]
    seed: int
    n_emitted: int = 0
    next_order: int = 0

    def __post_init__(self) -> None:
        self.next_order = int(self.table["l_orderkey"].max()) + 1

    def next_batch(self) -> pa.Table:
        """Updates (price bumps), tombstones (``_del``) and inserts, 10:1:1."""
        rng = np.random.default_rng([self.seed, 3, self.n_emitted])
        self.n_emitted += 1
        t = self.table
        n = len(t["l_orderkey"])
        pick = rng.choice(n, max(n // 100, 4), replace=False)
        n_del = max(len(pick) // 10, 1)
        dele, upd = pick[:n_del], pick[n_del:]
        new = lineitem_frame(rng, np.arange(self.next_order, self.next_order + n_del),
                             int(t["l_partkey"].max()) + 1, int(t["l_suppkey"].max()) + 1)
        self.next_order += n_del
        rows = {c: np.concatenate([t[c][upd], t[c][dele], new[c]]) for c in t}
        n_upd = len(upd)
        price = rows["l_extendedprice"]
        price[:n_upd] = np.round(price[:n_upd] + np.round(rng.uniform(1.0, 50.0, n_upd), 2), 2)
        tomb = np.zeros(len(price), dtype=bool)
        tomb[n_upd:n_upd + n_del] = True
        # apply to the model: update in place, drop deletes, append inserts
        t["l_extendedprice"] = t["l_extendedprice"].copy()
        t["l_extendedprice"][upd] = price[:n_upd]
        keep = np.ones(n, dtype=bool)
        keep[dele] = False
        self.table = {c: np.concatenate([t[c][keep], new[c]]) for c in t}
        return pa.table({**rows, "_del": tomb})


# Sizes of the ingest traffic; perfbench/README.md (Sizing) gives the basis.
EVENTS_PER_BATCH = 25_000  # one event micro-batch per ledger apply
BATCH_WINDOW_US = 6 * 3600 * 10**6  # micro-batch i covers the 6 hours after batch i-1
N_CELLS = 16  # IVF cells (= the index's cluster centres); probes read 2 of them
N_VECTORS = 4096  # the base index: 256 vectors a cell
VECTORS_PER_UPSERT = N_VECTORS // 100  # a 1% batch, like the CDC stream
DELETES_PER_UPSERT = VECTORS_PER_UPSERT // 10  # one delete per ten rows, like the CDC stream


@dataclass
class IngestInputs:
    lineitem: dict[str, np.ndarray]
    vec_base: np.ndarray
    vec_labels: np.ndarray
    centers: np.ndarray
    seed: int
    n_users: int
    cdc: CdcStream = field(init=False)

    def __post_init__(self) -> None:
        self.cdc = CdcStream({c: v.copy() for c, v in self.lineitem.items()}, self.seed)

    def event_batch(self, i: int) -> dict[str, np.ndarray]:
        rng = np.random.default_rng([self.seed, 4, i])
        t0 = EVENTS_T0 + np.timedelta64(i * BATCH_WINDOW_US, "us")
        return events_frame(rng, i * EVENTS_PER_BATCH, EVENTS_PER_BATCH, self.n_users,
                            t0, BATCH_WINDOW_US)

    def vector_batch(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        rng = np.random.default_rng([self.seed, 5, i])
        labels = rng.integers(0, len(self.centers), VECTORS_PER_UPSERT)
        ids = len(self.vec_base) + i * VECTORS_PER_UPSERT + np.arange(VECTORS_PER_UPSERT)
        return ids, unit_rows(rng, self.centers, labels, 0.35), (labels % 10).astype(np.int32)


def ingest_inputs(sf: float, seed: int) -> IngestInputs:
    """A lineitem table at scale ``sf`` with its CDC stream, and a base
    vector set around ``N_CELLS`` cluster centres; event and vector batches
    are generated on demand, each from its own seed."""
    rng = np.random.default_rng([seed, 6])
    n_ord = max(int(1_500_000 * sf), 150)
    li = lineitem_frame(rng, np.arange(n_ord), max(int(200_000 * sf), 20),
                        max(int(10_000 * sf), 5))
    centers = rng.standard_normal((N_CELLS, DIM))
    cl = rng.integers(0, N_CELLS, N_VECTORS)
    vecs = unit_rows(rng, centers, cl, 0.35)
    return IngestInputs(li, vecs, (cl % 10).astype(np.int32), centers, seed,
                        max(int(15_000 * sf), 5))
