"""Seeded inputs for every workload, written as parquet/CSV under one directory.

The engine's queries read ``<dir>/<table>.parquet`` (one file or a directory
of part files). The base tables follow the shapes of the engine's synthetic
testdata (TPC-H-like star schema, an ``events`` stream, a text corpus and
64-d embeddings) at a fixed internal seed, so the olap tables are the same
for every ``--seed``. The seed drives only what the workloads say it does:
the perturbation salt of the 10x corpus replica and the generated
Summary_2011-shaped ingest CSV (and, in ``run.py``, the query order).

Nothing here imports the engine: a change to the package cannot move the
benchmark's inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
REPLICAS = 10
CORPUS_FILES = 32

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64

# Scales: rows per table. ``base`` is the engine's sf0.01 testdata shape.
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}
# The corpus replicated 10x: 1,000 documents and 1,000 vectors.
CORPUS_BASE_DOCS = 100
CORPUS_BASE_VECS = 100
INGEST_CUSTOMERS = 2945
# CLV groups in the ingest CSV: one fit per core of a 4-core host.
N_GROUPS = 4
# Customers in the one CLV group the Spark-free model fits use.
RFM_GROUP_CUSTOMERS = 150

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    return _EPOCH_1995 + (rng.integers(0, span, n) * _DAY_US).astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def write_tpch(out: str) -> None:
    """region/nation/customer/supplier/part/orders/lineitem/events."""
    rng = np.random.default_rng(BASE_SEED)
    i32 = pa.int32()
    _write(
        pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}),
        f"{out}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        f"{out}/nation.parquet",
    )
    n = BASE_ROWS["customer"]
    _write(
        pa.table(
            {
                "c_custkey": np.arange(n, dtype=np.int64),
                "c_name": _keys("Customer", n),
                "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
            }
        ),
        f"{out}/customer.parquet",
    )
    n = BASE_ROWS["supplier"]
    _write(
        pa.table(
            {
                "s_suppkey": np.arange(n, dtype=np.int64),
                "s_name": _keys("Supplier", n),
                "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n),
            }
        ),
        f"{out}/supplier.parquet",
    )
    n = BASE_ROWS["part"]
    keys = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(
        pa.table(
            {
                "p_partkey": keys,
                "p_name": np.array(names)[rng.integers(0, len(names), n)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
                "p_size": rng.integers(1, 51, n).astype(np.int32),
                "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
            }
        ),
        f"{out}/part.parquet",
    )
    n_orders = BASE_ROWS["orders"]
    _write(
        pa.table(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, BASE_ROWS["customer"], n_orders),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
                "o_orderdate": _days(rng, n_orders, 2404),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
            }
        ),
        f"{out}/orders.parquet",
    )
    n = BASE_ROWS["lineitem"]
    _write(
        pa.table(
            {
                "l_orderkey": rng.integers(0, n_orders, n),
                "l_partkey": rng.integers(0, BASE_ROWS["part"], n),
                "l_suppkey": rng.integers(0, BASE_ROWS["supplier"], n),
                "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
                "l_shipdate": _days(rng, n, 2499) + np.timedelta64(1, "D"),
            }
        ),
        f"{out}/lineitem.parquet",
    )
    n = BASE_ROWS["events"]
    start = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n))
    _write(
        pa.table(
            {
                "event_id": np.arange(n, dtype=np.int64),
                "ts": start + offs.astype("timedelta64[us]"),
                "user_id": rng.integers(0, max(1, n // 66), n),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            }
        ),
        f"{out}/events.parquet",
    )


def base_corpus() -> tuple[dict, dict]:
    """The 1x text corpus and embeddings as column dicts.

    5% of documents are near-duplicates: another document's text plus a
    ``dup`` token, the shape the dedup families are built to find.
    """
    n_docs, n_vecs = CORPUS_BASE_DOCS, CORPUS_BASE_VECS
    rng = np.random.default_rng(BASE_SEED + 1)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 101, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    docs = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
    }
    x = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    vecs = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": x,
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    }
    return docs, vecs


def replicate_corpus(docs: dict, vecs: dict, salt: int) -> tuple[dict, dict]:
    """``REPLICAS`` perturbed copies of every document and vector.

    Copy 0 is the original. Copy r>0 of a document drops ~5% of its tokens
    (chosen by a generator seeded with ``salt``) and carries a ``rep<r>``
    token; copy r of a vector is shifted by ``0.003*r`` along a salted
    +/-1 pattern. Exact copies would make every near-dup family's candidate
    structure degenerate.
    """
    rng = np.random.default_rng([BASE_SEED, salt])
    ids, texts, langs, sources = [], [], [], []
    for r in range(REPLICAS):
        for i, text in enumerate(docs["text"]):
            toks = text.split(" ")
            if r > 0:
                keep = rng.random(len(toks)) >= 0.05
                toks = [t for t, k in zip(toks, keep) if k] + [f"rep{r}"]
            ids.append(int(docs["doc_id"][i]) * REPLICAS + r)
            texts.append(" ".join(toks))
            langs.append(docs["lang"][i])
            sources.append(docs["source"][i])
    out_docs = {"doc_id": np.array(ids, dtype=np.int64), "text": texts, "lang": langs, "source": sources}
    x = vecs["embedding"]
    sign = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), size=(REPLICAS, EMB_DIM))
    emb = np.concatenate([x + np.float32(0.003 * r) * sign[r] for r in range(REPLICAS)])
    vid = np.concatenate([vecs["vec_id"] * REPLICAS + r for r in range(REPLICAS)])
    lab = np.tile(vecs["label"], REPLICAS)
    return out_docs, {"vec_id": vid, "embedding": emb.astype(np.float32), "label": lab}


def _doc_table(d: dict) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(d["doc_id"], pa.int64()),
            "text": d["text"],
            "lang": d["lang"],
            "source": d["source"],
            "n_chars": pa.array([len(t) for t in d["text"]], pa.int64()),
        }
    )


def _vec_table(v: dict) -> pa.Table:
    x = v["embedding"]
    flat = pa.array(x.reshape(-1), pa.float32())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, x.size + 1, x.shape[1], dtype=np.int32)), flat)
    return pa.table({"vec_id": pa.array(v["vec_id"], pa.int64()), "embedding": emb, "label": pa.array(v["label"], pa.int32())})


def _write_files(table: pa.Table, path: str, files: int, rng: np.random.Generator) -> None:
    """Shuffle rows into ``files`` part files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    order = rng.permutation(table.num_rows)
    for k, part in enumerate(np.array_split(order, files)):
        _write(table.take(pa.array(np.sort(part))), f"{path}/part-{k:05d}.parquet")


def write_corpus(out: str, salt: int) -> None:
    """documents/embeddings: the salted 10x replica as ``CORPUS_FILES``-file
    parquet directories."""
    docs, vecs = base_corpus()
    docs, vecs = replicate_corpus(docs, vecs, salt)
    rng = np.random.default_rng([BASE_SEED, salt, 1])
    _write_files(_doc_table(docs), f"{out}/documents.parquet", CORPUS_FILES, rng)
    _write_files(_vec_table(vecs), f"{out}/embeddings.parquet", CORPUS_FILES, rng)


def write_ingest_csv(path: str, seed: int) -> int:
    """A Summary_2011-shaped RFM CSV (``CustomerID,T1,recency1,FREQUENCY,
    profit``): unique ids, ``recency1 <= T1``, positive-skewed profit, and
    one literal ``null`` CustomerID as in the shipped file. Returns bytes.

    The RFM rows come from the fixed base seed. ``seed`` shuffles the row
    order and permutes the ids within each residue class mod ``N_GROUPS``, so
    every CLV group (``id % N_GROUPS``) fits the same multiset of rows for
    every seed and the fit's cost does not move with it.
    """
    n, groups = INGEST_CUSTOMERS, N_GROUPS
    rng = np.random.default_rng([BASE_SEED, 2])
    ids = rng.choice(np.arange(12346, 18288), size=n, replace=False)
    t1 = rng.integers(2, 52, n)
    rec = np.minimum(rng.integers(1, 51, n), t1)
    freq = np.minimum(1 + rng.geometric(0.25, n), 50)
    profit = np.clip(np.round(rng.lognormal(5.5, 1.2, n), 2), 0.54, 21058.88)
    null_row = int(rng.integers(0, n))

    shuffle = np.random.default_rng([BASE_SEED, seed, 2])
    for r in range(groups):
        members = np.flatnonzero(ids % groups == r)
        ids[members] = ids[shuffle.permutation(members)]
    lines = ["CustomerID,T1,recency1,FREQUENCY,profit"]
    for i in shuffle.permutation(n):
        cid = "null" if i == null_row else str(ids[i])
        lines.append(f"{cid},{t1[i]},{rec[i]},{freq[i]},{profit[i]:.2f}")
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def rfm_arrays(seed: int) -> dict[str, np.ndarray]:
    """One CLV group's RFM arrays (x, t_x, T, monetary) for the Spark-free
    model fits."""
    n = RFM_GROUP_CUSTOMERS
    rng = np.random.default_rng([BASE_SEED, seed, 3])
    T = rng.integers(2, 52, n).astype(float)
    t_x = np.minimum(rng.integers(1, 51, n), T).astype(float)
    x = np.minimum(rng.geometric(0.25, n), 50).astype(float)
    m = np.clip(rng.lognormal(5.5, 1.2, n), 0.54, None)
    return {"x": x, "t_x": t_x, "T": T, "m": m}
