"""Round-11 operator units: per-source token-budget selection
(two-phase bounded window), HyperLogLog distinct estimation
(integer-exact registers), and content-defined chunking (windowed
Rabin-Karp spans + chunk-level cross-doc dedup)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("source", StringType(), True),
    StructField("text", StringType(), True),
])


def _docs(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


# ---------------------------------------------------------------------------
# token_budget_per_source
# ---------------------------------------------------------------------------

def _naive_budget(df, budget):
    """The single-window reference form the two-phase plan must match
    bit-for-bit (same construction as the DuckDB oracle)."""
    from lsh_spark.operators.training_ops import _words

    key = F.md5(F.concat(F.col("doc_id").cast("string"),
                         F.lit(":budget-v1")))
    w = (Window.partitionBy("source")
         .orderBy(F.col("__key").asc(), F.col("doc_id").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    return (
        df.select("doc_id", "source",
                  F.size(_words(F.col("text"))).cast("bigint")
                  .alias("n_tokens"),
                  key.alias("__key"))
        .select("doc_id", "source", "n_tokens",
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
                .alias("__pre"))
        .where(F.col("__pre") < budget)
        .select("doc_id", "source", "n_tokens")
    )


def test_token_budget_matches_naive_window(spark):
    from lsh_spark.operators.training_ops import token_budget_per_source

    rows = [(i, f"s{i % 3}", "tok " * (1 + (i * 7) % 13)) for i in range(120)]
    # plant a zero-token doc and a NULL text per source
    rows += [(200, "s0", ""), (201, "s1", None), (202, "s2", "   ")]
    df = _docs(spark, rows)
    got = sorted(token_budget_per_source(df, budget=30).collect())
    want = sorted(_naive_budget(df, 30).collect())
    assert got == want
    assert len(got) > 0


def test_token_budget_greedy_prefix_contract(spark):
    """Docs of 10 tokens each, budget 25: keeps exactly the first three
    in md5 order (pre = 0, 10, 20 < 25), so a source may finish over
    budget by less than one document."""
    from lsh_spark.operators.training_ops import token_budget_per_source

    df = _docs(spark, [(i, "s", "t " * 10) for i in range(6)])
    kept = token_budget_per_source(df, budget=25).collect()
    assert len(kept) == 3
    assert sum(r.n_tokens for r in kept) == 30  # crossing doc kept


def test_token_budget_budget_exceeds_total_keeps_all(spark):
    from lsh_spark.operators.training_ops import token_budget_per_source

    df = _docs(spark, [(i, "s", "a b c") for i in range(5)])
    assert token_budget_per_source(df, budget=10_000).count() == 5


# ---------------------------------------------------------------------------
# hll_vocab_report
# ---------------------------------------------------------------------------

def test_hll_estimate_tracks_exact_distinct(spark):
    """Deterministic accuracy check: ~4000 distinct bigrams in one
    source; the raw HLL estimate (m=256, ideal std err ~6.5%) must land
    within 20%.  The arithmetic itself is pinned bit-exactly by the
    DuckDB gate oracle — this guards the SKETCH quality (e.g. a broken
    register index that maps everything to one register would pass a
    pure parity check)."""
    from lsh_spark.operators.pipeline_queries import hll_vocab_report
    import os
    import tempfile

    words = " ".join(f"w{i}" for i in range(4001))
    df = _docs(spark, [(1, "s", words)])
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        from lsh_spark.sources import io as _io

        _io._SCHEMA_CACHE.pop(os.path.join(d, "documents.parquet"), None)
        row = hll_vocab_report(spark, d).collect()[0]
    assert row.exact_distinct == 4000
    assert abs(row.est_distinct - 4000) / 4000 < 0.20
    assert 0 < row.n_registers <= 256


def test_hll_rho_matches_python_bit_length(spark):
    """The bin()-based rho (57 - bit_length of the 56-bit tail) against
    Python's int.bit_length on the same md5 arithmetic."""
    import hashlib

    toks = [f"a b{i}" for i in range(64)]
    rows = spark.createDataFrame(
        [(t,) for t in toks], "g string"
    ).select(
        "g",
        F.conv(F.substring(F.md5("g"), 3, 14), 16, 10).cast("bigint")
        .alias("__v"),
    ).select(
        "g",
        F.when(F.col("__v") == 0, F.lit(57))
        .otherwise(F.lit(57) - F.length(F.bin(F.col("__v"))))
        .cast("int").alias("rho"),
    ).collect()
    for r in rows:
        v = int(hashlib.md5(r.g.encode()).hexdigest()[2:16], 16)
        assert r.rho == (57 if v == 0 else 57 - v.bit_length())


# ---------------------------------------------------------------------------
# cdc_chunk_stats
# ---------------------------------------------------------------------------

def test_cdc_spans_reconstruct_text():
    from lsh_spark._core.batch import cdc_spans_batch

    texts = ["the quick brown fox jumps over the lazy dog " * 9,
             "short", "", None, "exactly8", "ascii and unícöde \U0001f389 mix " * 20]
    starts, lens = cdc_spans_batch(texts)
    for t, ss, ll in zip(texts, starts, lens):
        if not t:
            assert ss == [] and ll == []
            continue
        assert ss[0] == 1
        assert sum(ll) == len(t)
        # contiguous, non-empty spans
        for i in range(1, len(ss)):
            assert ss[i] == ss[i - 1] + ll[i - 1]
        assert all(x > 0 for x in ll)
        assert "".join(t[s - 1:s - 1 + n] for s, n in zip(ss, ll)) == t


def test_cdc_shift_invariance_finds_shared_chunks(spark):
    """The CDC property exact fixed-size chunking lacks: a shared
    paragraph at DIFFERENT offsets in two documents still yields
    identical interior chunks, because boundaries are a pure function
    of a sliding window."""
    from lsh_spark.operators.dedup import cdc_chunk_stats

    shared = " ".join(f"common{i} payload{i * 3}" for i in range(30))
    a = "intro one. " + shared + " outro alpha."
    b = "a completely different and longer introduction text! " \
        + shared + " and another ending."
    df = _docs(spark, [(1, "s", a), (2, "s", b), (3, "s", "unrelated " * 30)])
    got = {r.doc_id: r for r in cdc_chunk_stats(df).collect()}
    assert got[1].n_shared_chunks > 0
    assert got[2].n_shared_chunks > 0
    assert got[3].n_shared_chunks == 0
    for r in got.values():
        assert r.n_unique_chunks <= r.n_chunks


def test_cdc_cross_engine_with_unicode(spark):
    """Direct Spark-vs-DuckDB parity on planted docs including
    multi-byte and astral code points — pins the codepoint contract
    (UTF-32 kernel codes == SQL ord; character-based substring on both
    engines)."""
    from lsh_spark.operators.dedup import (cdc_chunk_stats,
                                           cdc_chunk_stats_oracle_sql)

    rows = [
        (1, "s", "café naïve résumé " * 25),
        (2, "s", "emoji \U0001f389 party \U0001f680 rocket " * 20),
        (3, "s", "plain ascii text with words " * 15),
        (4, "s", "tiny"),
    ]
    df = _docs(spark, rows)
    got = sorted(tuple(r) for r in cdc_chunk_stats(df).collect())
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        rows, columns=["doc_id", "source", "text"]))
    want = sorted(tuple(r) for r in
                  con.execute(cdc_chunk_stats_oracle_sql()).fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# persisted CDC chunk index lifecycle
# ---------------------------------------------------------------------------

def test_cdc_index_delete_tombstones_and_rebuild(spark):
    """Merge-on-read deletes: probing after delete_from_cdc_index must
    equal probing an index rebuilt WITHOUT the deleted docs; a full
    rebuild clears the tombstones."""
    from pyspark.sql import functions as F

    from lsh_spark.operators.dedup import (
        build_cdc_chunk_index,
        chunk_novelty_against_index,
        delete_from_cdc_index,
    )
    from lsh_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    probe = docs.where(F.col("doc_id") % 2 == 1)
    for t in ("cdcdel", "cdcref"):
        for sfx in ("chunks", "meta", "deletes"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{sfx}")
    build_cdc_chunk_index(corpus, "cdcdel", num_buckets=8)

    full = chunk_novelty_against_index(spark, "cdcdel", probe).collect()
    assert sum(r.n_known_chunks for r in full) > 0
    victims = [r.doc_id for r in
               corpus.select("doc_id").limit(3).collect()]
    delete_from_cdc_index(
        spark.createDataFrame([(v,) for v in victims], "doc_id long"),
        "cdcdel")
    after = chunk_novelty_against_index(spark, "cdcdel", probe).collect()
    build_cdc_chunk_index(
        corpus.where(~F.col("doc_id").isin(victims)), "cdcref",
        num_buckets=8)
    want = chunk_novelty_against_index(spark, "cdcref", probe).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, want))
    # rebuild clears tombstones: full probe returns
    build_cdc_chunk_index(corpus, "cdcdel", num_buckets=8)
    again = chunk_novelty_against_index(spark, "cdcdel", probe).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, full))


def test_cdc_index_attach_reregisters(spark, tmp_path):
    """attach_cdc_chunk_index re-registers chunk/meta/deletes tables
    (WITH the bucket spec from the meta row) from files surviving on
    disk after the catalog forgets them — the cross-session contract:
    copy the table dirs to a fresh root, attach under a new name, and
    probes must match, tombstones included."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from lsh_spark.operators.dedup import (
        attach_cdc_chunk_index,
        build_cdc_chunk_index,
        chunk_novelty_against_index,
        delete_from_cdc_index,
    )
    from lsh_spark.sources.formats import _warehouse_path
    from lsh_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    probe = docs.where(F.col("doc_id") % 2 == 1)
    for t in ("cdcatt", "cdcnew"):
        for sfx in ("chunks", "meta", "deletes"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{sfx}")
    build_cdc_chunk_index(corpus, "cdcatt", num_buckets=8)
    victims = [r.doc_id for r in
               corpus.select("doc_id").limit(2).collect()]
    delete_from_cdc_index(
        spark.createDataFrame([(v,) for v in victims], "doc_id long"),
        "cdcatt")
    before = sorted(map(tuple, chunk_novelty_against_index(
        spark, "cdcatt", probe).collect()))
    # "new session": files on disk, catalog empty — copy the table dirs
    wh = _warehouse_path(spark)
    for sfx in ("chunks", "meta", "deletes"):
        shutil.copytree(os.path.join(wh, f"cdcatt_{sfx}"),
                        tmp_path / f"cdcnew_{sfx}")
    attach_cdc_chunk_index(spark, "cdcnew",
                           location_root=str(tmp_path))
    after = sorted(map(tuple, chunk_novelty_against_index(
        spark, "cdcnew", probe).collect()))
    assert after == before
    desc = spark.sql("DESCRIBE EXTENDED cdcnew_chunks").collect()
    desc_txt = "\n".join(f"{r.col_name} {r.data_type}" for r in desc)
    assert "Num Buckets 8" in desc_txt
    # attach is idempotent
    attach_cdc_chunk_index(spark, "cdcnew", location_root=str(tmp_path))


# ---------------------------------------------------------------------------
# bpe_encode_token_counts — encode parity vs a classic Python BPE
# ---------------------------------------------------------------------------

def test_bpe_encode_matches_reference_encoder(spark):
    """Applying the trained merges must yield the same per-doc token
    counts as a classic Python BPE (train + greedy left-to-right
    apply), including the a == b run-parity case."""
    from collections import Counter

    from lsh_spark.operators.training_ops import bpe_encode_token_counts

    texts = ["aaab aa ab banana", "banana aaab aaaa", "ab ab aa aaab"]
    steps = 4

    wc = Counter(w for t in texts for w in t.split())
    vocab = {w: list(w) for w in wc}
    for _ in range(steps):
        pc = Counter()
        for w, toks in vocab.items():
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += wc[w]
        if not pc:
            break
        (a, b), _nt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, toks in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[w] = out

    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens)
           for r in bpe_encode_token_counts(docs, steps=steps).collect()}
    for i, t in enumerate(texts):
        words = t.split()
        want = (len(words), sum(len(vocab[w]) for w in words))
        assert got[i] == want, (i, got[i], want)


def test_cdc_index_extend_and_compact(spark):
    """extend chunks ONLY the delta and appends (probe equals an index
    built on the union); compact folds tombstones into a new
    generation, bumps the version pointer, truncates _deletes, and
    leaves probe results unchanged."""
    from pyspark.sql import functions as F

    from lsh_spark.operators.dedup import (
        build_cdc_chunk_index,
        chunk_novelty_against_index,
        compact_cdc_chunk_index,
        delete_from_cdc_index,
        extend_cdc_chunk_index,
    )
    from lsh_spark.sources.index import index_meta, meta_version
    from lsh_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    half_a = corpus.where(F.col("doc_id") % 4 == 0)
    half_b = corpus.where(F.col("doc_id") % 4 == 2)
    probe = docs.where(F.col("doc_id") % 2 == 1)
    for t in ("cdcext", "cdcfull"):
        for sfx in ("chunks", "meta", "deletes"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{sfx}")
    build_cdc_chunk_index(half_a, "cdcext", num_buckets=8)
    extend_cdc_chunk_index(half_b, "cdcext")
    build_cdc_chunk_index(corpus, "cdcfull", num_buckets=8)
    got = sorted(map(tuple, chunk_novelty_against_index(
        spark, "cdcext", probe).collect()))
    want = sorted(map(tuple, chunk_novelty_against_index(
        spark, "cdcfull", probe).collect()))
    assert got == want

    victims = [r.doc_id for r in
               corpus.select("doc_id").limit(3).collect()]
    delete_from_cdc_index(
        spark.createDataFrame([(v,) for v in victims], "doc_id long"),
        "cdcext")
    before = sorted(map(tuple, chunk_novelty_against_index(
        spark, "cdcext", probe).collect()))
    compact_cdc_chunk_index(spark, "cdcext")
    after = sorted(map(tuple, chunk_novelty_against_index(
        spark, "cdcext", probe).collect()))
    assert after == before
    assert meta_version(index_meta(spark, "cdcext_meta")) == 1
    assert not spark.catalog.tableExists("cdcext_deletes")
    assert spark.catalog.tableExists("cdcext_chunks_v1")


def test_cdc_spans_property_random_texts():
    """Property test over random unicode-ish texts: spans always
    reconstruct the text, are contiguous and non-empty, and boundaries
    are content-defined — equal texts chunk equally regardless of list
    position (statelessness across the batch)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lsh_spark._core.batch import cdc_spans_batch

    alphabet = st.characters(
        min_codepoint=32, max_codepoint=0x10FFF,
        blacklist_categories=("Cs",))

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.text(alphabet=alphabet, max_size=400), max_size=6))
    def check(texts):
        starts, lens = cdc_spans_batch(texts)
        for t, ss, ll in zip(texts, starts, lens):
            if not t:
                assert ss == [] and ll == []
                continue
            assert ss[0] == 1 and sum(ll) == len(t)
            assert all(x > 0 for x in ll)
            for i in range(1, len(ss)):
                assert ss[i] == ss[i - 1] + ll[i - 1]
            assert "".join(
                t[s - 1:s - 1 + n] for s, n in zip(ss, ll)) == t
        # statelessness: re-chunking any single text alone is identical
        if texts:
            s2, l2 = cdc_spans_batch([texts[0]])
            assert s2[0] == starts[0] and l2[0] == lens[0]

    check()


def test_asof_join_forward_ties_and_no_match(spark):
    """Forward as-of: earliest right row with right.on >= left.on; a
    SIMULTANEOUS right row counts; a left row after the last right row
    gets NULLs."""
    from lsh_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 40), (2, 5)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 15, "a"), (1, 20, "b"), (1, 30, "c")],
        "k long, t long, v string")
    got = {(r.k, r.t): r.v_next for r in asof_join_forward(
        left, right, by="k", on="t", right_cols=["v"],
        suffix="_next").withColumnRenamed("v_next", "v_next").collect()}
    assert got == {(1, 10): "a", (1, 20): "b", (1, 40): None,
                   (2, 5): None}


def test_sq8_report_counts_non_null_errors(spark):
    """n_vectors counts NON-NULL error terms (round-11 advice): a short
    vector's out-of-bounds dimensions yield NULL errors and must deflate
    neither the count nor the mean; a full-dim corpus is unaffected
    (the gate-hash-preserving case)."""
    from lsh_spark.operators.ann import sq8_reconstruction_report

    full = spark.createDataFrame(
        [(0, [0.0, 10.0]), (1, [5.0, 20.0]), (2, [10.0, 30.0])],
        "id long, embedding array<double>")
    ragged = spark.createDataFrame(
        [(0, [0.0, 10.0]), (1, [5.0, 20.0]), (2, [10.0, 30.0]),
         (3, [7.5]), (4, None)],
        "id long, embedding array<double>")
    base = {r.dim_idx: r for r in
            sq8_reconstruction_report(full, dim=2).collect()}
    got = {r.dim_idx: r for r in
           sq8_reconstruction_report(ragged, dim=2).collect()}
    # dim 1 sees only the three full vectors' elements... plus none from
    # the short/NULL rows: count must say so
    assert base[1].n_vectors == 3
    assert got[1].n_vectors == 3
    assert got[0].n_vectors == 4  # the short vector has a dim-0 element
    # the mean over dim 1 ignores the NULL error rows entirely: with the
    # same bounds the three shared elements reconstruct identically
    assert got[1].mean_abs_err is not None
