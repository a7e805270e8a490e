"""The Arrow kernel boundary: list-column UDFs and verify kernels exchange
Arrow offsets/values (``functions/lsh.py::_to_arrow_list`` /
``_from_arrow_list``), and their outputs are pinned to the values the
earlier pandas-boxing boundary produced."""

from __future__ import annotations

import hashlib
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

U64MAX = 2**64 - 1

# sha256 of each UDF's collected output over ``_parity_frame`` (rows in
# id order), recorded from the pandas-UDF boundary these UDFs replaced
_PARITY_DIGESTS = {
    "lsh_min":
        "141691f7c9dc0d3dd9ac8305bd833207a254accfd8d7c4aeb2cc60dca239bd3b",
    "lsh_min32":
        "f4499316f0ad4a42e8a11cf4e078f22e19f5efab5097e411c16c5e1361574a80",
    "lsh_min_shingles":
        "fa23e2ad2d8c30672f300a8f95776faa881d90837e918213bb4c7324c1701843",
    "lsh_min32_shingles":
        "ba00d15d20293f498c68ae0e7db239997450035fe8f06d3a36dad5138abda436",
    "lsh_euclidean":
        "059764ee3f248b1bad014a79dfa9aa75cc86b0d681a39dbf34d8160062162a35",
    "lsh_euclidean32":
        "e0caa30c9d91c5b5c5f469a725140d117593bb2d329471e38577040b9d19f514",
    "lsh_jaccard":
        "43ab8a7f23d19b554cf3ce1d507436202271750a18fe4a166c292cef08dc76d9",
    "lsh_min_bands_long":
        "5228fbd93dda12edc81188874a7857afd5072d4b4bde77db64d1966be704a1ce",
    "lsh_min_shingles_bands_long":
        "830c371ff1efc149df8751f4e2d16dda3dde69bb0948d762ed67250a7618cbdd",
    "weighted_minhash_bands_long":
        "a272c22c1af6df994df39dca4828ae2870383cfd0b733dbcc8992c5660089835",
    "lsh_euclidean_bands_long":
        "3d8ddd34f28cb3ea40549cc70389783730aeb3f62c194cc4992f9e0625350c77",
    "shingle_set_col":
        "9542a16d1ef4ac7289a78401d234e3bff7550d01293c7920c949042c167fcfc1",
    "word_shingle_set_col":
        "a196c87171c68204d05afffada60b5bd620e040a35959574e6323178cf3da0b6",
    "shingle_set_bands_col":
        "c5fab1fa6a7738944e57b3c55432f91c10fde81ee5139ad4991f4d38f9e7728b",
    "minhash_bands_from_set":
        "5228fbd93dda12edc81188874a7857afd5072d4b4bde77db64d1966be704a1ce",
    "lsh_min_minima_long_from_set":
        "d8f8b3509ca6e352e68d496826578090c06cff5a5fc2c83cf3bdb242c58e73fd",
    "lsh_min_minima_long":
        "d8f8b3509ca6e352e68d496826578090c06cff5a5fc2c83cf3bdb242c58e73fd",
    "jaccard_from_sets":
        "43ab8a7f23d19b554cf3ce1d507436202271750a18fe4a166c292cef08dc76d9",
    "sql_lsh_min":
        "141691f7c9dc0d3dd9ac8305bd833207a254accfd8d7c4aeb2cc60dca239bd3b",
    "sql_lsh_min32":
        "f4499316f0ad4a42e8a11cf4e078f22e19f5efab5097e411c16c5e1361574a80",
    "sql_lsh_min_shingles":
        "fa23e2ad2d8c30672f300a8f95776faa881d90837e918213bb4c7324c1701843",
    "sql_lsh_min32_shingles":
        "ba00d15d20293f498c68ae0e7db239997450035fe8f06d3a36dad5138abda436",
    "sql_lsh_euclidean":
        "059764ee3f248b1bad014a79dfa9aa75cc86b0d681a39dbf34d8160062162a35",
    "sql_lsh_euclidean32":
        "e0caa30c9d91c5b5c5f469a725140d117593bb2d329471e38577040b9d19f514",
    "sql_lsh_jaccard":
        "43ab8a7f23d19b554cf3ce1d507436202271750a18fe4a166c292cef08dc76d9",
}


def _parity_frame(spark):
    """10,001 short rows in ONE partition (two Arrow batches at
    maxRecordsPerBatch=10000): NULL, '', a text shorter than the 3-gram
    width, non-ASCII text, then generated word texts."""
    words = F.array(*[F.lit(w) for w in
                      ("alpha", "beta", "gamma", "delta", "eps", "zeta")])
    gen = F.concat_ws(
        " ",
        F.element_at(words, (F.col("id") % 6 + 1).cast("int")),
        F.element_at(words, (F.col("id") % 5 + 1).cast("int")),
        F.element_at(words, (F.col("id") % 4 + 1).cast("int")),
        (F.col("id") % 97).cast("string"))
    text = (F.when(F.col("id") == 0, F.lit(None).cast("string"))
            .when(F.col("id") == 1, F.lit(""))
            .when(F.col("id") == 2, F.lit("ab"))
            .when(F.col("id") == 3, F.lit("héllo wörld ☃ 日本語 héllo"))
            .otherwise(gen))
    df = spark.range(0, 10_001, 1, 1).select("id", text.alias("text"))
    vec = F.when(F.col("text").isNull(), F.lit(None)).otherwise(F.array(
        (F.length("text") * 0.5).cast("double"),
        (F.col("id") * 0.25).cast("double"),
        (-F.col("id")).cast("double")))
    return df.select("id", "text", F.split("text", " ").alias("toks"),
                     vec.alias("vec"))


def _parity_columns():
    from lsh_spark.functions import lsh as L

    t, toks, vec = F.col("text"), F.col("toks"), F.col("vec")
    sets = L.shingle_set_col(t, 3)
    return {
        "lsh_min": L.lsh_min(t, 3, 4, 2, 7),
        "lsh_min32": L.lsh_min32(t, 3, 4, 2, 7),
        "lsh_min_shingles": L.lsh_min_shingles(toks, 4, 2, 7),
        "lsh_min32_shingles": L.lsh_min32_shingles(toks, 4, 2, 7),
        "lsh_euclidean": L.lsh_euclidean(vec, 2.0, 3, 2, 5),
        "lsh_euclidean32": L.lsh_euclidean32(vec, 2.0, 3, 2, 5),
        "lsh_jaccard": L.lsh_jaccard(t, F.concat(t, F.lit(" x")), 3),
        "lsh_min_bands_long": L.lsh_min_bands_long(t, 3, 4, 2, 7),
        "lsh_min_shingles_bands_long":
            L.lsh_min_shingles_bands_long(toks, 4, 2, 7),
        "weighted_minhash_bands_long":
            L.weighted_minhash_bands_long(t, 4, 2, 7),
        "lsh_euclidean_bands_long":
            L.lsh_euclidean_bands_long(vec, 2.0, 3, 2, 5),
        "shingle_set_col": sets,
        "word_shingle_set_col": L.word_shingle_set_col(t, 2),
        "shingle_set_bands_col":
            L.shingle_set_bands_col(t, "char", 3, 4, 2, (7, 11)),
        "minhash_bands_from_set": L.minhash_bands_from_set(sets, 4, 2, 7),
        "lsh_min_minima_long_from_set":
            L.lsh_min_minima_long_from_set(sets, 4, 2, 7),
        "lsh_min_minima_long": L.lsh_min_minima_long(t, 3, 4, 2, 7),
        "jaccard_from_sets":
            L.jaccard_from_sets(sets, L.shingle_set_col(
                F.concat(t, F.lit(" x")), 3)),
    }


_SQL_TWINS = {
    "sql_lsh_min": "lsh_min(text, 3, 4, 2, 7)",
    "sql_lsh_min32": "lsh_min32(text, 3, 4, 2, 7)",
    "sql_lsh_min_shingles": "lsh_min_shingles(toks, 4, 2, 7)",
    "sql_lsh_min32_shingles": "lsh_min32_shingles(toks, 4, 2, 7)",
    "sql_lsh_euclidean": "lsh_euclidean(vec, 2.0D, 3, 2, 5)",
    "sql_lsh_euclidean32": "lsh_euclidean32(vec, 2.0D, 3, 2, 5)",
    "sql_lsh_jaccard": "lsh_jaccard(text, concat(text, ' x'), 3)",
}


def _digest(values) -> str:
    return hashlib.sha256(repr(values).encode()).hexdigest()


def parity_digests(spark) -> dict:
    """name → sha256 of the UDF's output over ``_parity_frame``."""
    from lsh_spark.functions import register_all

    df = _parity_frame(spark)
    cols = _parity_columns()
    rows = df.select("id", *[c.alias(k) for k, c in cols.items()]) \
        .orderBy("id").collect()
    out = {k: _digest([r[k] for r in rows]) for k in cols}
    register_all(spark)
    df.createOrReplaceTempView("arrow_parity")
    rows = spark.sql(
        "SELECT id, " + ", ".join(f"{e} AS {k}" for k, e in _SQL_TWINS.items())
        + " FROM arrow_parity ORDER BY id").collect()
    out.update({k: _digest([r[k] for r in rows]) for k in _SQL_TWINS})
    return out


def test_arrow_udfs_match_pandas_boundary_outputs(spark):
    """Every converted UDF and SQL twin reproduces, bit for bit, what the
    pandas-UDF boundary returned on NULL, '', a too-short text,
    non-ASCII text and a column spanning two Arrow batches; NULL rows
    stay NULL."""
    got = parity_digests(spark)
    assert got == _PARITY_DIGESTS
    from lsh_spark.functions import lsh as L

    head = (_parity_frame(spark).where("id < 4")
            .select("id", L.lsh_min("text", 3, 4, 2, 7).alias("m"),
                    L.shingle_set_bands_col(F.col("text"), "char", 3, 4, 2,
                                            (7, 11)).alias("sb"))
            .orderBy("id").collect())
    assert head[0]["m"] is None
    assert head[0]["sb"]["set"] is None and head[0]["sb"]["bands"] is None
    assert head[1]["sb"]["set"] == [] and head[2]["sb"]["set"] == []
    assert len(head[3]["sb"]["bands"]) == 8
    assert all(isinstance(v, Decimal) for v in head[3]["m"])


def test_list_helpers_match_boxed_rows():
    """The two boundary helpers against the per-row boxing they replace:
    a 1000x35 u64 matrix with a NULL row and u64::MAX as DECIMAL(20,0)
    and as int64; sliced and chunked list inputs, including a NULL row
    backed by a non-empty child span."""
    from lsh_spark.functions.lsh import _from_arrow_list, _u64_list

    rng = np.random.default_rng(5)
    mat = rng.integers(0, U64MAX, size=(1000, 35), dtype=np.uint64,
                       endpoint=True)
    mat[3, 7] = U64MAX
    mat[4, 0] = 0
    mask = np.ones(1000, dtype=bool)
    mask[10] = False
    dec = _u64_list(mat, mask, "decimal").to_pylist()
    assert dec == [[Decimal(int(v)) for v in row] if ok else None
                   for row, ok in zip(mat, mask)]
    assert dec[3][7] == Decimal(U64MAX)
    assert _u64_list(mat, mask, "long").to_pylist() == [
        row.view(np.int64).tolist() if ok else None
        for row, ok in zip(mat, mask)]
    assert _u64_list(mat, mask, "low32").to_pylist() == [
        [int(v) & 0xFFFFFFFF for v in row] if ok else None
        for row, ok in zip(mat, mask)]

    # NULL row 1 keeps a non-empty child span [2, 5)
    arr = pa.ListArray.from_arrays(
        pa.array([0, 2, 5, 5, 9], type=pa.int32()),
        pa.array(np.arange(9, dtype=np.int32)),
        mask=pa.array([False, True, False, False]))
    rows = arr.to_pylist()
    for piece in (arr, arr.slice(1), pa.chunked_array([arr.slice(0, 2),
                                                       arr.slice(2)])):
        flat, offs, valid = _from_arrow_list(piece)
        want = rows[len(rows) - len(valid):] if not isinstance(
            piece, pa.ChunkedArray) else rows
        assert offs[0] == 0 and offs.dtype == np.int64
        assert valid.tolist() == [r is not None for r in want]
        assert [flat[offs[i]:offs[i + 1]].tolist() if ok else None
                for i, ok in enumerate(valid)] == want


def test_u64_max_decimal_through_spark(spark):
    """Spark reads the ``[value, 0]`` decimal128 word pair back as the
    u64 value, u64::MAX included."""
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.types import ArrayType, DecimalType

    from lsh_spark.functions.lsh import _u64_list

    @arrow_udf(ArrayType(DecimalType(20, 0)))
    def bands(s: pa.Array) -> pa.Array:
        mat = np.tile(np.array([U64MAX, 0, 2**63], dtype=np.uint64),
                      (len(s), 1))
        return _u64_list(mat, np.ones(len(s), dtype=bool), "decimal")

    got = spark.range(1).select(bands("id").alias("b")).first()["b"]
    assert got == [Decimal(U64MAX), Decimal(0), Decimal(2**63)]


def _null_text_docs(spark):
    return spark.createDataFrame(
        [(1, None), (2, ""), (3, "the quick brown fox jumps over it"),
         (4, "the quick brown fox jumps over it!"),
         (5, "lorem ipsum dolor sit amet consectetur"),
         (6, "lorem ipsum dolor sit amet consectetur.")],
        "doc_id long, text string")


def test_null_text_pairs_match_shuffle_path(spark, monkeypatch):
    """A NULL and an empty text under the broadcast cap: every pair
    operator returns exactly what its forced-shuffle twin returns (the
    broadcast collect used to take len() of the NULL set)."""
    from lsh_spark.operators import similarity_join as sj

    docs = _null_text_docs(spark)
    kw = dict(ngram_width=3, band_count=8, band_size=2, seed=3,
              threshold=0.5)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    self_bc = rows(sj.lsh_self_dedup_pairs(docs, "text", id_col="doc_id",
                                           **kw))
    assert self_bc == rows(sj.lsh_self_dedup_pairs(
        docs, "text", id_col="doc_id", broadcast_sets=False, **kw))
    assert {(a, b) for a, b, _ in self_bc} == {(3, 4), (5, 6)}
    join_kw = dict(left_id="doc_id", right_id="doc_id", **kw)
    assert rows(sj.lsh_similarity_join(docs, docs, "text", "text",
                                       **join_kw)) == rows(
        sj.lsh_similarity_join(docs, docs, "text", "text",
                               broadcast_sets=False, **join_kw))
    cont = rows(sj.lsh_containment_pairs(docs, "text", id_col="doc_id",
                                         **kw))
    with monkeypatch.context() as m:
        m.setattr(sj, "_AUTO_BROADCAST_CAP_BYTES", -1)
        assert cont == rows(sj.lsh_containment_pairs(
            docs, "text", id_col="doc_id", **kw))
    assert cont
    sj.build_lsh_corpus_index(docs, "arrow_null_idx", text_col="text",
                              id_col="doc_id", ngram_width=3, band_count=8,
                              band_size=2, seed=3, num_buckets=2)
    probe = docs.select(F.col("doc_id").alias("pid"), "text")
    assert rows(sj.lsh_similarity_join_indexed(
        spark, "arrow_null_idx", probe, "text", probe_id="pid",
        threshold=0.5)) == rows(sj.lsh_similarity_join_indexed(
            spark, "arrow_null_idx", probe, "text", probe_id="pid",
            threshold=0.5, broadcast_probe_sets=False))


def _sets(rng, universes, per_doc=40):
    """A flat sorted-unique int32 set table (ids, offsets, flat), one
    row per universe drawn from."""
    rows = [np.unique(rng.choice(u, size=per_doc)).astype(np.int32)
            for u in universes]
    offs = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in rows], out=offs[1:])
    return np.arange(len(rows), dtype=np.int64), offs, np.concatenate(rows)


@pytest.mark.parametrize("case", ["accept", "prefix_rejects", "undecided"])
def test_bitmap_prefix_reject_is_exact(monkeypatch, case):
    """The bounded-prefix early reject never changes ``_bitmap_plan``'s
    decision or matrices: an accept case, a reject the prefix decides
    alone, and a reject only the full universe decides (a narrow head,
    a wide tail)."""
    from lsh_spark.operators import similarity_join as sj

    rng = np.random.default_rng(21)
    narrow = np.arange(-60, 60, dtype=np.int32)
    wide = rng.integers(-2**31, 2**31, size=200_000).astype(np.int32)
    heads = {"accept": [narrow] * 300, "prefix_rejects": [wide] * 300,
             "undecided": [narrow] * 150 + [wide] * 150}
    a = _sets(rng, heads[case])
    calls = []
    real = sj._common_universe

    def spy(fa, fb, s):
        calls.append(len(fa))
        return real(fa, fb, s)

    monkeypatch.setattr(sj, "_common_universe", spy)
    monkeypatch.setattr(sj, "_BITMAP_PREFIX", 4096)
    got = sj._bitmap_plan(a, a, True)
    n_calls = len(calls)
    monkeypatch.setattr(sj, "_BITMAP_PREFIX", 1 << 40)  # prefix never runs
    want = sj._bitmap_plan(a, a, True)
    if case == "accept":
        assert got is not None and want is not None
        assert got[2] == want[2]
        assert np.array_equal(got[0], want[0]) and got[1] is None
    else:
        assert got is None and want is None
        assert n_calls == (1 if case == "prefix_rejects" else 2)
