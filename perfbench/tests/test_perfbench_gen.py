"""The seeded generator: same seed, same bytes; row counts from sf only."""

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

import gen


def _hashes(d):
    return {
        t: hashlib.sha256(open(os.path.join(d, f"{t}.parquet"), "rb").read()).hexdigest()
        for t in gen.TABLES
    }


def test_same_seed_same_table_hashes(tmp_path):
    a = gen.generate(str(tmp_path / "a"), seed=5, sf=0.002)
    b = gen.generate(str(tmp_path / "b"), seed=5, sf=0.002)
    assert _hashes(tmp_path / "a") == _hashes(tmp_path / "b")
    assert np.array_equal(a["doc_base"], b["doc_base"])


def test_other_seed_other_data_same_row_counts(tmp_path):
    a = gen.generate(str(tmp_path / "a"), seed=5, sf=0.002)
    b = gen.generate(str(tmp_path / "b"), seed=6, sf=0.002)
    ha, hb = _hashes(tmp_path / "a"), _hashes(tmp_path / "b")
    assert all(ha[t] != hb[t] for t in ("orders", "lineitem", "documents", "embeddings"))
    assert a["rows"] == b["rows"]


def test_planted_families_stay_in_one_shard(tmp_path):
    m = gen.generate(str(tmp_path), seed=3, sf=0.02)
    base = m["doc_base"]
    ids = np.arange(len(base))
    assert (base <= ids).all()
    assert (base // gen.DOC_SHARD == ids // gen.DOC_SHARD).all()
    dup_frac = (base != ids).mean()
    assert 0.05 < dup_frac < 0.4
    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    # a planted near-duplicate differs from its base in one token
    for i in np.flatnonzero(base != ids)[:20]:
        a, b = texts[i].split(), texts[base[i]].split()
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1


def test_schema_matches_fixture_layout(tmp_path):
    gen.generate(str(tmp_path), seed=1, sf=0.002)
    li = pq.read_schema(tmp_path / "lineitem.parquet")
    assert str(li.field("l_shipdate").type) == "timestamp[us]"
    emb = pq.read_schema(tmp_path / "embeddings.parquet")
    assert str(emb.field("embedding").type) == "list<element: float>"
