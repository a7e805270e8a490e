"""The DuckDB oracle generators reproduce the _core kernels bit-for-bit.

These are pure DuckDB↔numpy checks (no Spark) — the full Spark↔DuckDB
comparison runs in tests/test_entry_oracle.py; this file pins the SQL
primitives themselves so a regression localizes to the generator, not to
a 40-query diff.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from lsh_spark._core.euclidean import euclidean_bands
from lsh_spark._core.fxhash import fx_add, fx_hash_char_slice
from lsh_spark._core.minhash import minhash_bands
from lsh_spark._core.shingles import shingle_set_from_text
from lsh_spark.oracles import duckdb_lsh as orc

SF_DIR = "/root/testdata/sf0.001"


def test_fx_add_sql_matches_core_on_random_u64():
    rng = np.random.default_rng(7)
    states = rng.integers(0, 2**64, size=200, dtype=np.uint64)
    words = rng.integers(0, 2**64, size=200, dtype=np.uint64)
    rows = ", ".join(f"({int(s)}::HUGEINT, {int(w)}::HUGEINT)"
                     for s, w in zip(states, words))
    got = duckdb.sql(
        f"SELECT {orc.fx_add_sql('s', 'w')} FROM (VALUES {rows}) t(s, w)"
    ).fetchall()
    want = [fx_add(int(s), int(w)) for s, w in zip(states, words)]
    assert [int(g[0]) for g in got] == want


def test_wrapmul_sql_matches_python_wrapping_mult():
    rng = np.random.default_rng(11)
    xs = rng.integers(0, 2**64, size=100, dtype=np.uint64)
    for mult in (0xBF58476D1CE4E5B9, 0x94D049BB133111EB):
        rows = ", ".join(f"({int(x)}::HUGEINT)" for x in xs)
        got = duckdb.sql(
            f"SELECT {orc._wrapmul_sql('x', mult)} FROM (VALUES {rows}) t(x)"
        ).fetchall()
        want = [(int(x) * mult) & 0xFFFFFFFFFFFFFFFF for x in xs]
        assert [int(g[0]) for g in got] == want


def test_string_hash_sql_matches_core_char_slice_hash():
    samples = ["", "a", "hello world", "Princeton University",
               "héllo wörld", "ünïcode³", "a b", "  spaces  "]
    rows = ", ".join("(" + "'" + s.replace("'", "''") + "')" for s in samples)
    got = duckdb.sql(
        f"SELECT {orc.string_hash_sql('s')} FROM (VALUES {rows}) t(s)"
    ).fetchall()
    want = [fx_hash_char_slice(s) & 0xFFFFFFFF for s in samples]
    assert [int(g[0]) for g in got] == want


@pytest.mark.parametrize("bc,bs,seed", [(4, 2, 123), (8, 6, 7), (2, 1, 0)])
def test_minhash_signature_oracle_matches_core(bc, bs, seed):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    got = {(d, b): h for d, b, h in
           con.sql(orc.minhash_signatures_sql(3, bc, bs, seed)).fetchall()}
    docs = con.sql(
        "SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 50"
    ).fetchall()
    for did, text in docs:
        bands = minhash_bands(shingle_set_from_text(text, 3), bc, bs, seed)
        for bi, h in enumerate(bands):
            v = int(h)
            signed = v - 2**64 if v >= 2**63 else v
            assert got[(did, bi)] == signed


def test_euclidean_signature_oracle_matches_core():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'")
    got = {(i, b): h for i, b, h in
           con.sql(orc.euclidean_signatures_sql(0.5, 4, 2, 123, 64)).fetchall()}
    vecs = con.sql(
        "SELECT vec_id, embedding::DOUBLE[] FROM embeddings "
        "ORDER BY vec_id LIMIT 50").fetchall()
    for vid, v in vecs:
        bands = euclidean_bands(np.asarray(v, dtype=np.float64), 0.5, 4, 2, 123)
        for bi, h in enumerate(bands):
            u = int(h)
            signed = u - 2**64 if u >= 2**63 else u
            assert got[(vid, bi)] == signed


def test_empty_and_short_text_edge_cases():
    """Docs shorter than the ngram width fold band hashes over u64::MAX
    minima — the kernel's empty-set path — and the oracle must agree."""
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO documents VALUES (1, ''), (2, 'ab'), (3, 'abc')")
    got = {(d, b): h for d, b, h in
           con.sql(orc.minhash_signatures_sql(3, 4, 2, 9)).fetchall()}
    for did, text in [(1, ""), (2, "ab"), (3, "abc")]:
        bands = minhash_bands(shingle_set_from_text(text, 3), 4, 2, 9)
        for bi, h in enumerate(bands):
            v = int(h)
            signed = v - 2**64 if v >= 2**63 else v
            assert got[(did, bi)] == signed


def test_batch_jaccard_matches_naive_sets():
    """The row-tagged batch merge equals per-pair set arithmetic on random
    int32 sets (including the empty-set → 0.0 rule)."""
    from lsh_spark.operators.similarity_join import _batch_jaccard

    rng = np.random.default_rng(13)
    va, vb, want = [], [], []
    for _ in range(300):
        na, nb = int(rng.integers(0, 40)), int(rng.integers(0, 40))
        a = np.unique(rng.integers(-2**31, 2**31, size=na)).astype(np.int32)
        b = np.unique(rng.integers(-2**31, 2**31, size=nb)).astype(np.int32)
        # force overlap on some pairs
        if len(a) and len(b) and rng.random() < 0.5:
            take = rng.integers(1, len(a) + 1)
            b = np.unique(np.concatenate([b, a[:take]])).astype(np.int32)
        va.append(a)
        vb.append(b)
        sa, sb = set(a.tolist()), set(b.tolist())
        u = len(sa | sb)
        want.append(len(sa & sb) / u if u else 0.0)
    got = _batch_jaccard(*_flat(va), *_flat(vb))
    assert np.allclose(got, want, rtol=0, atol=0)


def _flat(rows):
    """Per-row int32 arrays → (flat values, row offsets), the layout the
    verify kernels read from an Arrow list column."""
    offs = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in rows], out=offs[1:])
    return np.concatenate(rows).astype(np.int32), offs
