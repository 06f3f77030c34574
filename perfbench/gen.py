"""Seeded input generator for the engine benchmark.

Writes the ten tables of the engine's fixture schema (one parquet file
per table, ``<out_dir>/<name>.parquet``, the same column names and
Arrow types as the fixtures TESTDATA.md describes) so every registry query and its
DuckDB ``oracle_sql()`` run unchanged on the output.

Everything derives from ``numpy.random.default_rng(seed)``: the same
``(seed, sf)`` writes byte-identical files. Row counts depend only on
``sf``, never on the seed, so throughput figures of different seeds
are comparable.

Planted structure (the rates are module constants and are returned in
the manifest):

- documents: each base document has a ``NEAR_DUP_RATE`` chance of
  spawning 1-3 near-duplicate variants (one content-word substitution
  each; 3-shingle Jaccard with the base >= ~0.85) and an
  ``EXACT_DUP_RATE`` chance of one verbatim copy. Duplicates stay in
  their base's shard (``DOC_SHARD`` consecutive ids), so curating one
  shard finds them. Every document passes the curation quality gate
  (>= 30 tokens, >= 6% English stopwords, no punctuation).
- embeddings: one per document (``vec_id == doc_id``); ``EMB_CLUSTERS`` unit centroids in 64 dimensions; each
  vector is its centroid plus Gaussian noise of scale ``EMB_NOISE``
  per component, re-normalized. ``label`` is the cluster id mod 10.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

NEAR_DUP_RATE = 0.10
EXACT_DUP_RATE = 0.03
DOC_SHARD = 250
EMB_DIM = 64
EMB_CLUSTERS = 32
EMB_NOISE = 0.06

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = np.array(["en", "es", "fr", "de", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_CONTENT_WORDS = (
    "merge window customer spark part group stream filter sort scan "
    "vector join query big hash column data agg table line small slow "
    "key fast order row value batch"
).split()
_STOPWORDS = ["the", "a", "and", "of", "to"]

_EPOCH_DAY = dt.date(1970, 1, 1)
ORDER_FIRST_DAY = (dt.date(1995, 1, 1) - _EPOCH_DAY).days
ORDER_LAST_DAY = (dt.date(2001, 8, 1) - _EPOCH_DAY).days


def _days_to_ts(days: np.ndarray) -> pa.Array:
    us = days.astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict, row_group_size: int | None = None):
    table = pa.table(cols)
    pq.write_table(
        table,
        os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=row_group_size,
    )
    return table.num_rows


def _documents(rng: np.random.Generator, n_docs: int):
    """Base documents plus planted duplicate families, laid out so a
    family never crosses a ``DOC_SHARD`` boundary. Returns the text
    list and, per document, the id of the family base it copies
    (its own id for a distinct document)."""
    texts: list[str] = []
    base_of: list[int] = []
    words = np.array(_CONTENT_WORDS)
    while len(texts) < n_docs:
        n_tok = int(rng.integers(30, 91))
        toks = list(words[rng.integers(0, len(words), n_tok)])
        n_stop = max(2, int(np.ceil(0.06 * n_tok)))
        for pos in rng.choice(n_tok, n_stop, replace=False):
            toks[pos] = _STOPWORDS[int(rng.integers(0, len(_STOPWORDS)))]
        family = [" ".join(toks)]
        if rng.random() < NEAR_DUP_RATE:
            for _ in range(int(rng.integers(1, 4))):
                variant = list(toks)
                # substitute one content word (never a stopword, so the
                # quality gate sees the same stopword density)
                content = [i for i, t in enumerate(variant) if t not in _STOPWORDS]
                pos = content[int(rng.integers(0, len(content)))]
                choices = [w for w in _CONTENT_WORDS if w != variant[pos]]
                variant[pos] = choices[int(rng.integers(0, len(choices)))]
                family.append(" ".join(variant))
        if rng.random() < EXACT_DUP_RATE:
            family.append(family[0])
        start = len(texts)
        # keep the family inside one shard; a family that would cross
        # the boundary (or overflow n_docs) is cut to a lone base doc
        room = min(DOC_SHARD - start % DOC_SHARD, n_docs - start)
        family = family[:room]
        texts.extend(family)
        base_of.extend([start] * len(family))
    return texts, np.array(base_of, dtype=np.int64)


def _embeddings(rng: np.random.Generator, n: int):
    centroids = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    cluster = rng.integers(0, EMB_CLUSTERS, n)
    vecs = centroids[cluster] + rng.normal(scale=EMB_NOISE, size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), cluster


def generate(out_dir: str, seed: int, sf: float) -> dict:
    """Write all ten tables for ``(seed, sf)`` into ``out_dir`` and
    return a manifest: row counts, planted-structure rates and the
    per-document family base ids (``doc_base``)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows: dict[str, int] = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    n_cust = max(100, int(150_000 * sf))
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })

    n_supp = max(10, int(10_000 * sf))
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })

    n_part = max(200, int(200_000 * sf))
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })

    n_ord = max(1000, int(1_500_000 * sf))
    order_day = rng.integers(ORDER_FIRST_DAY, ORDER_LAST_DAY + 1, n_ord)
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days_to_ts(order_day),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    # 1..7 lines per order in a seed-shuffled but fixed multiset, so
    # the lineitem row count depends on sf alone
    lines_per_order = rng.permutation(np.arange(n_ord) % 7 + 1)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order)
    n_li = len(l_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_line = (np.arange(n_li) - np.repeat(starts, lines_per_order) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_li)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days_to_ts(ship_day),
    })

    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    jan = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + jan
    rows["events"] = _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_docs = max(500, int(50_000 * sf))
    texts, doc_base = _documents(rng, n_docs)
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, row_group_size=DOC_SHARD)

    # one embedding per document: vec_id == doc_id
    vecs, cluster = _embeddings(rng, n_docs)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(cluster % 10, pa.int32()),
    }, row_group_size=DOC_SHARD)

    return {
        "seed": seed,
        "sf": sf,
        "rows": rows,
        "near_dup_rate": NEAR_DUP_RATE,
        "exact_dup_rate": EXACT_DUP_RATE,
        "doc_shard": DOC_SHARD,
        "emb_clusters": EMB_CLUSTERS,
        "emb_noise": EMB_NOISE,
        "doc_base": doc_base,
    }
