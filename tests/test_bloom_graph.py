"""Round-11 session-2 operator units: Bloom-filter membership sketch
(no false negatives, cross-engine-exact words table) and triangle
counting over the co-occurrence graph (degree-ordered orientation ==
naive id-ordered enumeration)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

_DOC_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("text", StringType(), True),
])


# ---------------------------------------------------------------------------
# bloom filter
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives(spark):
    """Every probe text that IS in the corpus must come back
    bloom_hit=true (the defining Bloom property), and exact_dup must
    agree with plain digest membership."""
    from lsh_spark.operators.bloom import bloom_dedup_report

    corpus_rows = [(i, f"corpus document {i} body") for i in range(0, 40, 2)]
    probe_rows = (
        [(100 + i, f"corpus document {i} body") for i in range(0, 20, 2)]
        + [(200 + i, f"novel probe {i}") for i in range(5)])
    corpus = spark.createDataFrame(corpus_rows, _DOC_SCHEMA)
    probe = spark.createDataFrame(probe_rows, _DOC_SCHEMA)
    out = {r.doc_id: (r.bloom_hit, r.exact_dup)
           for r in bloom_dedup_report(corpus, probe).collect()}
    assert len(out) == len(probe_rows)
    for i in range(0, 20, 2):
        assert out[100 + i] == (True, True), f"planted dup {i} missed"
    for i in range(5):
        hit, exact = out[200 + i]
        assert not exact  # novel text is never an exact dup
        # bloom_hit may rarely be a false positive; it must still IMPLY
        # nothing about exact_dup — asserted by the planted block above


def test_bloom_exact_implies_hit_and_oracle_matches(spark):
    """Gate-shaped check on a tiny frame: Spark report == DuckDB oracle
    row-for-row, and exact_dup ⇒ bloom_hit everywhere."""
    from lsh_spark.operators.bloom import (bloom_dedup_oracle_sql,
                                           bloom_dedup_report)

    rows = [(i, f"text body {i % 7}") for i in range(30)]
    docs = spark.createDataFrame(rows, _DOC_SCHEMA)
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    probe = docs.where(F.col("doc_id") % 2 == 1)
    got = (bloom_dedup_report(corpus, probe)
           .orderBy("doc_id").collect())
    assert all(r.bloom_hit for r in got if r.exact_dup)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = con.execute(
        bloom_dedup_oracle_sql() + " ORDER BY doc_id").fetchall()
    assert [(r.doc_id, r.bloom_hit, r.exact_dup) for r in got] == \
        [tuple(w) for w in want]


def test_bloom_words_table_is_bounded(spark):
    """The words table never exceeds m_bits/32 rows — the broadcast
    contract that makes the probe corpus-side exchange-free."""
    from lsh_spark.operators.bloom import bloom_build_words

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(500)], _DOC_SCHEMA)
    words = bloom_build_words(docs, m_bits=1 << 10).collect()
    assert len(words) <= (1 << 10) // 32
    assert all(0 <= w.word_idx < (1 << 10) // 32 for w in words)
    # 32-bit payload contract: no bit at or above position 32
    assert all(0 < w.bits < (1 << 32) for w in words)


# ---------------------------------------------------------------------------
# triangle counting
# ---------------------------------------------------------------------------

_EV_SCHEMA = StructType([
    StructField("user_id", LongType(), False),
    StructField("props", StringType(), True),
])


def _events(spark, user_items):
    rows = [(u, f'{{"k": {i}}}') for u, items in user_items.items()
            for i in items]
    return spark.createDataFrame(rows, _EV_SCHEMA)


def test_triangles_known_graph(spark):
    """K4 on items {1,2,3,4} (every pair shared by 2 users) has 4
    triangles; each item participates in C(3,2) = 3 of them."""
    from lsh_spark.operators.graph import triangle_counts

    # two users per item pair → every pair passes min_cooccur=2
    user_items = {}
    uid = 0
    for a in range(1, 5):
        for b in range(a + 1, 5):
            for _ in range(2):
                user_items[uid] = [a, b]
                uid += 1
    got = {r.item: r.n_triangles
           for r in triangle_counts(_events(spark, user_items)).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangles_open_wedge_is_not_counted(spark):
    """A path a-b-c with no closing edge has zero triangles."""
    from lsh_spark.operators.graph import triangle_counts

    user_items = {0: [1, 2], 1: [1, 2], 2: [2, 3], 3: [2, 3]}
    assert triangle_counts(_events(spark, user_items)).count() == 0


def test_triangles_heavy_user_capped(spark):
    """A user touching everything is dropped before the pair join —
    their edges alone cannot form triangles."""
    from lsh_spark.operators.graph import triangle_counts

    user_items = {0: list(range(1, 50))}  # one mega-user
    got = triangle_counts(_events(spark, user_items),
                          max_items_per_user=10).count()
    assert got == 0


# ---------------------------------------------------------------------------
# IVF radius search + more-like-this
# ---------------------------------------------------------------------------

def test_ivf_radius_finds_planted_twin(spark):
    """A vector's exact duplicate must be returned at sim 1.0; weaker
    matches below the floor must not appear; no self-matches."""
    import math

    from lsh_spark.operators.ann import ivf_radius_search

    def unit(i, j, d=8):
        v = [0.0] * d
        v[i % d] = 3.0
        v[j % d] += 1.0
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = [(i, unit(i, i + 1)) for i in range(32)]
    rows.append((100, unit(5, 6)))  # exact twin of vec 5
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ivf_radius_search(
        emb, emb.where("vec_id IN (5, 7)"), threshold=0.95,
        n_lists=4, n_probe=4)  # probe all cells: exact at this scale
    got = {(r.query_id, r.neighbor_id): r.cosine_sim for r in out.collect()}
    assert got.get((5, 100)) == 1.0
    assert all(q != n for q, n in got)
    assert all(s >= 0.95 for s in got.values())


def test_more_like_this_ranks_twin_first(spark):
    """A document whose text is identical to the query doc must be the
    rank-1 more-like-this hit."""
    from lsh_spark.operators.retrieval import bm25_topk
    from pyspark.sql import functions as F

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),          # exact twin of 0
        (2, "alpha beta something else here"),  # partial overlap
        (3, "totally unrelated words only"),
    ]
    docs = spark.createDataFrame(rows, _DOC_SCHEMA)
    q = docs.where("doc_id = 0").select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"))
    out = bm25_topk(docs, q, k=3, exclude_self=True).collect()
    top = [r for r in out if r.rank == 1][0]
    assert top.doc_id == 1
    assert all(r.doc_id != 0 for r in out)  # self excluded


# ---------------------------------------------------------------------------
# persisted Bloom index lifecycle
# ---------------------------------------------------------------------------

def test_bloom_index_extend_equals_full_build(spark, tmp_path):
    """bit_or is associative: build(A) + extend(B) must equal
    build(A ∪ B) word-for-word, and probes through the extended index
    must see B's documents as hits (no false negatives across the
    extend boundary)."""
    from lsh_spark.operators.bloom import (bloom_build_words,
                                           build_bloom_index,
                                           extend_bloom_index,
                                           probe_bloom_index)

    rows_a = [(i, f"first wave doc {i}") for i in range(40)]
    rows_b = [(100 + i, f"second wave doc {i}") for i in range(25)]
    a = spark.createDataFrame(rows_a, _DOC_SCHEMA)
    b = spark.createDataFrame(rows_b, _DOC_SCHEMA)
    build_bloom_index(a, "bloom_t1", m_bits=1 << 12)
    extend_bloom_index(b, "bloom_t1")

    got = {(r.word_idx, r.bits)
           for r in spark.table("bloom_t1_words").collect()}
    want = {(r.word_idx, r.bits)
            for r in bloom_build_words(a.unionAll(b),
                                       m_bits=1 << 12).collect()}
    assert got == want

    probe = spark.createDataFrame(rows_b[:10], _DOC_SCHEMA)
    hits = probe_bloom_index(spark, "bloom_t1", probe).collect()
    assert all(r.bloom_hit for r in hits)
    # stats deltas sum across build + extend
    from lsh_spark.operators.bloom import bloom_index_stats

    st = bloom_index_stats(spark, "bloom_t1").first()
    assert st.n_docs_inserted == len(rows_a) + len(rows_b)
    assert 0 < st.n_set_bits <= min((1 << 12), 4 * st.n_docs_inserted)


def test_bloom_index_attach_roundtrip(spark, tmp_path):
    """Simulate the next-session shape (files on disk, catalog empty):
    copy the table directories to a fresh root, attach under a new
    name, and probes must return identical results — the cross-session
    contract shared with the LSH/IVF/text indexes."""
    import os
    import shutil

    from lsh_spark.operators.bloom import (attach_bloom_index,
                                           build_bloom_index,
                                           probe_bloom_index)
    from lsh_spark.sources.formats import _warehouse_path

    rows = [(i, f"persisted doc {i}") for i in range(30)]
    docs = spark.createDataFrame(rows, _DOC_SCHEMA)
    build_bloom_index(docs, "bloom_t2", m_bits=1 << 12)
    probe = spark.createDataFrame(rows[:5] + [(99, "unseen")], _DOC_SCHEMA)
    before = sorted((r.doc_id, r.bloom_hit)
                    for r in probe_bloom_index(spark, "bloom_t2",
                                               probe).collect())
    wh = _warehouse_path(spark)
    for s in ("meta", "words", "stats"):
        shutil.copytree(os.path.join(wh, f"bloom_t2_{s}"),
                        tmp_path / f"bloom_t3_{s}")
    attach_bloom_index(spark, "bloom_t3", location_root=str(tmp_path))
    after = sorted((r.doc_id, r.bloom_hit)
                   for r in probe_bloom_index(spark, "bloom_t3",
                                              probe).collect())
    assert before == after
    assert (99, False) in before  # unseen text stays a miss here


def test_bloom_null_text_parity(spark):
    """NULL text propagates identically in both engines (probe-verified
    round 11): bloom_hit NULL, exact_dup false — pinned so the oracle's
    NULL chain never silently diverges from Spark's."""
    import duckdb

    from lsh_spark.operators.bloom import (bloom_dedup_oracle_sql,
                                           bloom_dedup_report)

    rows = [(0, "alpha"), (2, "beta"), (4, None),
            (1, "alpha"), (3, None), (5, "unseen")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.doc_id, r.bloom_hit, r.exact_dup)
           for r in bloom_dedup_report(
               docs.where("doc_id % 2 = 0"),
               docs.where("doc_id % 2 = 1")).orderBy("doc_id").collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = [tuple(w) for w in con.execute(
        bloom_dedup_oracle_sql() + " ORDER BY doc_id").fetchall()]
    assert got == want
    assert got[1] == (3, None, False)


# ---------------------------------------------------------------------------
# minhash estimator calibration
# ---------------------------------------------------------------------------

def test_minhash_estimate_identical_docs_is_one(spark):
    """Identical texts must estimate 1.0 (all minima equal); the exact
    jaccard the pair carries must ride through the kernel unchanged."""
    from lsh_spark.operators.similarity_join import (
        lsh_self_dedup_pairs,
        minhash_estimate_for_pairs,
    )

    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely different document body here")]
    docs = spark.createDataFrame(rows, _DOC_SCHEMA)
    pairs = lsh_self_dedup_pairs(
        docs, "text", id_col="doc_id", ngram_width=3, band_count=4,
        band_size=3, seed=123, threshold=0.5)
    out = minhash_estimate_for_pairs(
        pairs, docs, "text", id_col="doc_id", ngram_width=3,
        band_count=4, band_size=3, seed=123).collect()
    got = {(r.id_a, r.id_b): (r.est_sim, r.jaccard) for r in out}
    assert got[(0, 1)][0] == 1.0
    assert got[(0, 1)][1] == 1.0
    assert all(0.0 <= e <= 1.0 for e, _ in got.values())


def test_minhash_estimate_sampling_bit_equal(spark):
    """The enforced max_docs sampling contract (round-11 verdict item
    2): when the corpus exceeds max_docs, a deterministic md5-bucket
    sample caps the broadcast matrix BEFORE collection; absent ids drop
    their pairs and every surviving pair's estimate is bit-identical to
    the full-corpus run."""
    from lsh_spark.operators.similarity_join import (
        lsh_self_dedup_pairs,
        minhash_estimate_for_pairs,
    )
    from lsh_spark.operators.training_ops import split_bucket_expr

    # near-dup families so the miner emits plenty of pairs
    rows = [(i, f"shared very repetitive body text {i % 6} tail tail")
            for i in range(48)]
    docs = spark.createDataFrame(rows, _DOC_SCHEMA)
    pairs = lsh_self_dedup_pairs(
        docs, "text", id_col="doc_id", ngram_width=3, band_count=4,
        band_size=3, seed=123, threshold=0.5)
    full = {(r.id_a, r.id_b): r.est_sim
            for r in minhash_estimate_for_pairs(
                pairs, docs, "text", id_col="doc_id", ngram_width=3,
                band_count=4, band_size=3, seed=123,
                max_docs=None).collect()}
    max_docs = 24
    sampled = {(r.id_a, r.id_b): r.est_sim
               for r in minhash_estimate_for_pairs(
                   pairs, docs, "text", id_col="doc_id", ngram_width=3,
                   band_count=4, band_size=3, seed=123,
                   max_docs=max_docs).collect()}
    # replicate the operator's keep set exactly (same salt/buckets)
    import math

    buckets = 1 << 20
    keep_lim = int(math.ceil(max_docs / len(rows) * buckets))
    kept = {r.doc_id for r in docs.where(
        split_bucket_expr(F.col("doc_id"), salt="calib-v1",
                          buckets=buckets) < keep_lim).collect()}
    assert 0 < len(kept) < len(rows)  # the sample actually binds
    want_pairs = {p for p in full
                  if p[0] in kept and p[1] in kept}
    assert set(sampled) == want_pairs
    assert len(sampled) < len(full)  # some pairs actually dropped
    for p, est in sampled.items():
        assert est == full[p]  # bit-equal, not approximately


def test_minhash_estimate_requires_named_id_cols(spark):
    """A pairs frame without the declared id columns raises instead of
    silently miswiring the kernel's searchsorted lookups (round-11
    advice: positional cols[0]/cols[1] was the hazard)."""
    import pytest as _pytest

    from lsh_spark.operators.similarity_join import (
        minhash_estimate_for_pairs,
    )

    docs = spark.createDataFrame([(0, "alpha"), (1, "beta")], _DOC_SCHEMA)
    bad_pairs = spark.createDataFrame(
        [(0.9, 0, 1)], "jaccard double, left_id long, right_id long")
    with _pytest.raises(ValueError, match="id_a"):
        minhash_estimate_for_pairs(bad_pairs, docs, "text",
                                   id_col="doc_id")
    # explicit names wire the same frame correctly
    out = minhash_estimate_for_pairs(
        bad_pairs, docs, "text", id_col="doc_id",
        id_a_col="left_id", id_b_col="right_id").collect()
    assert len(out) == 1 and 0.0 <= out[0].est_sim <= 1.0


def test_bloom_text_col_mismatch_raises(spark):
    """probe/extend may only RESTATE the meta-pinned hashed column; a
    differing text_col would mix hash spaces in one filter and raises
    (round-11 advice)."""
    import pytest as _pytest

    from lsh_spark.operators.bloom import (build_bloom_index,
                                           extend_bloom_index,
                                           probe_bloom_index)

    docs = spark.createDataFrame(
        [(i, f"pinned col doc {i}") for i in range(10)], _DOC_SCHEMA)
    build_bloom_index(docs, "bloom_tc", m_bits=1 << 10)
    with _pytest.raises(ValueError, match="meta-pinned"):
        probe_bloom_index(spark, "bloom_tc", docs, text_col="other")
    with _pytest.raises(ValueError, match="meta-pinned"):
        extend_bloom_index(docs, "bloom_tc", text_col="other")
    # restating the pinned column is fine
    hits = probe_bloom_index(spark, "bloom_tc", docs.limit(3),
                             text_col="text").collect()
    assert all(r.bloom_hit for r in hits)


@pytest.mark.parametrize("family, table", [
    ("bloom", "words"), ("ab", "sets"), ("cdc", "chunks")])
def test_ensure_bloom_index_rebuilds_partial_index(spark, family, table):
    """A meta row without one of its current-generation tables is a
    PARTIAL index (e.g. a same-parameter rebuild that died mid-write:
    the overwrite drops the table first) and must rebuild, not fail
    downstream — for every ensure_* index."""
    from lsh_spark.operators.pipeline_queries import ensure_bloom_index
    from lsh_spark.streaming.documents import ensure_ab_index, ensure_cdc_index

    ensure = {"bloom": ensure_bloom_index, "ab": ensure_ab_index,
              "cdc": ensure_cdc_index}[family]
    sf_dir = "/root/testdata/sf0.001"
    name = ensure(spark, sf_dir)
    spark.sql(f"DROP TABLE {name}_{table}")
    assert ensure(spark, sf_dir) == name
    assert spark.catalog.tableExists(f"{name}_{table}")
    assert spark.table(f"{name}_{table}").count() > 0
