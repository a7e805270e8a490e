"""Unit tests for the round-10 similarity additions: sparse TF-IDF
cosine pairs (``operators/sparse_sim.py``), Levenshtein-verified LSH
pairs (``similarity_join.lsh_edit_distance_pairs``), and the
temperature-scaled mixture plan (``training_ops``) — handcrafted inputs
with known answers plus the plan shapes the 100 TB contracts rely on."""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from lsh_spark.operators.similarity_join import lsh_edit_distance_pairs
from lsh_spark.operators.sparse_sim import tfidf_cosine_pairs
from lsh_spark.operators.training_ops import mixture_temperature_plan

_DOC_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("text", StringType(), True),
])


def _docs(spark, rows):
    return spark.createDataFrame(rows, _DOC_SCHEMA)


# ---------------------------------------------------------------------------
# tfidf_cosine_pairs
# ---------------------------------------------------------------------------

def test_tfidf_identical_docs_cosine_one(spark):
    """Two identical docs share every bigram with equal weights →
    cosine exactly 1.0; the third, bigram-disjoint doc pairs with
    neither."""
    docs = _docs(spark, [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "zeta eta theta iota"),
    ])
    rows = tfidf_cosine_pairs(
        docs, threshold=0.5, max_df_num=9, max_df_den=10).collect()
    assert [(r.id_a, r.id_b, r.cosine) for r in rows] == [(1, 2, 1.0)]


def test_tfidf_hand_computed_cosine(spark):
    """Three docs, one shared bigram — cosine replayed by hand with the
    operator's exact fold (6dp rounds + exact decimal sums)."""
    docs = _docs(spark, [
        (1, "a b x y"),        # bigrams: 'a b', 'b x', 'x y'
        (2, "a b p q"),        # bigrams: 'a b', 'b p', 'p q'
        (3, "m n o"),          # no overlap with 1/2
    ])
    n_docs = 3
    # df: 'a b' -> 2, every other bigram -> 1; max_df 9/10 keeps all
    w_shared = round(1.0 * math.log(n_docs / 2), 6)
    w_solo = round(1.0 * math.log(n_docs / 1), 6)
    from decimal import Decimal

    def dec6(x):
        return Decimal(f"{round(x, 6):.6f}")

    nrm = math.sqrt(float(
        dec6(w_shared * w_shared) + dec6(w_solo * w_solo)
        + dec6(w_solo * w_solo)))
    dot = float(dec6(w_shared * w_shared))
    expect = round(dot / (nrm * nrm), 6)
    rows = tfidf_cosine_pairs(
        docs, threshold=0.0001, max_df_num=9, max_df_den=10).collect()
    assert [(r.id_a, r.id_b, r.cosine) for r in rows] == [(1, 2, expect)]


def test_tfidf_df_cut_drops_stopword_bigrams(spark):
    """A bigram present in every doc is pruned by the df cut, removing
    the only overlap — no pairs survive."""
    docs = _docs(spark, [
        (1, "the end alpha beta"),
        (2, "the end gamma delta"),
        (3, "the end zeta eta"),
        (4, "the end theta iota"),
    ])
    # 'the end' has df=4 = N -> pruned at any cut below 1.0
    rows = tfidf_cosine_pairs(
        docs, threshold=0.0001, max_df_num=3, max_df_den=4).collect()
    assert rows == []


def test_tfidf_plan_no_python_no_text_shuffle(spark):
    """Exchanges carry ids/terms/weights, never document text; no
    Python in the plan (JVM explode + aggregates only)."""
    docs = _docs(spark, [(i, f"w{i} w{i+1} w{i+2} common token") for i in
                         range(30)])
    plan = tfidf_cosine_pairs(docs)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "EvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


# ---------------------------------------------------------------------------
# lsh_edit_distance_pairs
# ---------------------------------------------------------------------------

def test_edit_distance_planted_near_dup(spark):
    """One trailing-char edit on a 60-char doc → lev=1, edit_sim =
    1 − 1/60; the unrelated doc never pairs.  Loose banding (8×2) makes
    a band collision certain in practice for 59/60 shared content (the
    minhash is deterministic at this seed — the assertion is stable)."""
    base = "the quick brown fox jumps over the lazy dog again and again!"
    assert len(base) == 60
    docs = _docs(spark, [
        (1, base),
        (2, base[:-1] + "x"),
        (3, "completely different content with no shared trigrams here"),
    ])
    rows = lsh_edit_distance_pairs(
        docs, "text", id_col="doc_id", ngram_width=3, band_count=8,
        band_size=2, seed=123, threshold=0.5).collect()
    assert [(r.id_a, r.id_b, r.edit_sim) for r in rows] == [
        (1, 2, round(1.0 - 1.0 / 60.0, 6))]


def test_edit_distance_threshold_strict(spark):
    """Pairs AT the threshold are dropped (strict >, the house
    inequality): sim == 0.5 survives threshold 0.4 but not 0.5."""
    a = "abcdefghijklmnopqrst"           # 20 chars
    b = "abcdefghij0123456789"           # lev 10 -> sim 0.5
    docs = _docs(spark, [(1, a), (2, b)])
    kw = dict(id_col="doc_id", ngram_width=3, band_count=12, band_size=1,
              seed=123)
    got = lsh_edit_distance_pairs(
        docs, "text", threshold=0.4, **kw).collect()
    assert [(r.id_a, r.id_b, r.edit_sim) for r in got] == [(1, 2, 0.5)]
    assert lsh_edit_distance_pairs(
        docs, "text", threshold=0.5, **kw).collect() == []


def test_edit_distance_band_join_ships_ids_only(spark):
    """The blocking join's exchanges key on (band_idx, band_hash) and
    carry no text — payloads re-attach by id afterwards."""
    docs = _docs(spark, [(i, f"document number {i} padded with text")
                         for i in range(20)])
    plan = lsh_edit_distance_pairs(
        docs, "text", id_col="doc_id")._jdf.queryExecution(
    ).explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "band" in line:
            assert "text#" not in line and "__ta" not in line, line


# ---------------------------------------------------------------------------
# mixture_temperature_plan
# ---------------------------------------------------------------------------

_SRC_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("source", StringType(), True),
])


def test_mixture_temperature_known_values(spark):
    """n = (8, 1) at T = 1/3 → scaled (2, 1) → weights (2/3, 1/3);
    planned = floor(weight · budget)."""
    rows = [(i, "big") for i in range(8)] + [(100, "small")]
    docs = spark.createDataFrame(rows, _SRC_SCHEMA)
    got = {r.source: r for r in mixture_temperature_plan(
        docs, temperature=1.0 / 3.0, budget=90_000).collect()}
    assert got["big"].n_docs == 8 and got["small"].n_docs == 1
    assert got["big"].weight == round(2.0 / 3.0, 6)
    assert got["small"].weight == round(1.0 / 3.0, 6)
    assert got["big"].planned_docs == math.floor(
        round(2.0 / 3.0, 6) * 90_000)
    assert got["small"].planned_docs == math.floor(
        round(1.0 / 3.0, 6) * 90_000)


def test_mixture_temperature_flattens_toward_uniform(spark):
    """T < 1 up-weights the tail: the small source's weight strictly
    exceeds its raw share; weights stay sorted by size and sum to ~1."""
    rows = ([(i, "big") for i in range(90)]
            + [(1000 + i, "small") for i in range(10)])
    docs = spark.createDataFrame(rows, _SRC_SCHEMA)
    got = {r.source: r for r in
           mixture_temperature_plan(docs, temperature=0.5).collect()}
    assert got["small"].weight > 0.1          # raw share would be 0.10
    assert got["big"].weight > got["small"].weight
    assert abs(got["big"].weight + got["small"].weight - 1.0) < 2e-6


# ---------------------------------------------------------------------------
# lsh_containment_pairs
# ---------------------------------------------------------------------------

def test_containment_planted_quote_in_doc(spark):
    """A short doc fully contained in a long one: cont_a_in_b == 1.0
    (every trigram of A appears in B) while cont_b_in_a is small —
    exactly the asymmetric signal; jaccard would be low."""
    from lsh_spark.operators.similarity_join import lsh_containment_pairs

    quote = "abcdefghijklmnop"
    docs = _docs(spark, [
        (1, quote),
        (2, quote + " and then a very long continuation follows here with"
            " plenty of additional material making the container large"),
        (3, "zzz completely unrelated trigram content xxx qqq vvv www"),
    ])
    rows = lsh_containment_pairs(
        docs, "text", id_col="doc_id", ngram_width=3, band_count=16,
        band_size=1, seed=123, threshold=0.9).collect()
    got = {(r.id_a, r.id_b): (r.cont_a_in_b, r.cont_b_in_a) for r in rows}
    assert (1, 2) in got
    ca, cb = got[(1, 2)]
    assert ca == 1.0 and cb < 0.2
    assert all(3 not in k for k in got)


def test_containment_matches_manual_ratio(spark):
    """Hand-checkable overlap: A='abcde' (trigrams abc bcd cde), B has
    exactly two of them — cont_a_in_b = 2/3, cont_b_in_a = 2/|B|."""
    from lsh_spark.functions.lsh import shingle_set_col
    from lsh_spark.operators.similarity_join import lsh_containment_pairs

    a_text, b_text = "abcde", "abcdXabcd"
    docs = _docs(spark, [(1, a_text), (2, b_text)])
    sizes = {r.doc_id: r.n for r in docs.select(
        "doc_id", F.size(shingle_set_col(F.col("text"), 3)).alias("n")
    ).collect()}
    rows = lsh_containment_pairs(
        docs, "text", id_col="doc_id", ngram_width=3, band_count=16,
        band_size=1, seed=123, threshold=0.1).collect()
    assert len(rows) == 1
    r = rows[0]
    # shared trigrams: abc, bcd (cde missing from B; B adds dXa, Xab)
    assert r.cont_a_in_b == round(2 / sizes[1], 6)
    assert r.cont_b_in_a == round(2 / sizes[2], 6)


# ---------------------------------------------------------------------------
# pagerank_undirected (operators/graph.py)
# ---------------------------------------------------------------------------

_EDGE_SCHEMA = StructType([
    StructField("src", LongType(), False),
    StructField("dst", LongType(), False),
])


def _edges(spark, pairs):
    both = list(pairs) + [(b, a) for a, b in pairs]
    return spark.createDataFrame(both, _EDGE_SCHEMA)


def test_pagerank_symmetric_pair_stays_uniform(spark):
    """A 2-node path is symmetric: rank stays exactly 1/2 every
    iteration (0.075 + 0.85·0.5 = 0.5, closed under 6dp rounding)."""
    from lsh_spark.operators.graph import pagerank_undirected

    got = {r.node: r.rank for r in pagerank_undirected(
        _edges(spark, [(1, 2)]), iters=3).collect()}
    assert got == {1: 0.5, 2: 0.5}


def test_pagerank_star_hand_computed(spark):
    """Center + 3 leaves, one iteration — replay the exact quantized
    fold by hand (round 6dp, decimal sum, literal recombination)."""
    from decimal import Decimal

    from lsh_spark.operators.graph import pagerank_undirected

    edges = _edges(spark, [(0, 1), (0, 2), (0, 3)])
    got = {r.node: r.rank for r in
           pagerank_undirected(edges, iters=1).collect()}
    r0 = round(1.0 / 4.0, 6)
    c_center = float(sum(Decimal(f"{round(r0 / 1.0, 6):.6f}")
                         for _ in range(3)))
    c_leaf = float(Decimal(f"{round(r0 / 3.0, 6):.6f}"))
    expect_center = round(0.15000000000000002 / 4.0 + 0.85 * c_center, 6)
    expect_leaf = round(0.15000000000000002 / 4.0 + 0.85 * c_leaf, 6)
    assert got[0] == expect_center
    assert got[1] == got[2] == got[3] == expect_leaf
    # total mass conserved up to 6dp quantization drift
    assert abs(sum(got.values()) - 1.0) < 1e-4


def test_pagerank_checkpoint_invariant(spark):
    """localCheckpoint cadence changes lineage, never values."""
    from lsh_spark.operators.graph import pagerank_undirected

    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)])
    a = {r.node: r.rank for r in pagerank_undirected(
        edges, iters=6, checkpoint_every=2).collect()}
    b = {r.node: r.rank for r in pagerank_undirected(
        edges, iters=6, checkpoint_every=0).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# item_cooccurrence_pairs (operators/graph.py)
# ---------------------------------------------------------------------------

_EVENT_SCHEMA = StructType([
    StructField("user_id", LongType(), False),
    StructField("props", StringType(), True),
])


def _events(spark, pairs):
    return spark.createDataFrame(
        [(u, '{"k": %d}' % k) for u, k in pairs], _EVENT_SCHEMA)


def test_cooccurrence_planted_baskets(spark):
    """3 users; items (1,2) shared by all three, (1,3) by one —
    at >= 2/3 support only the (1,2) pair survives, with the exact
    user count; repeated events of the same (user, item) dedup."""
    from lsh_spark.operators.graph import item_cooccurrence_pairs

    ev = _events(spark, [
        (10, 1), (10, 2), (10, 1),          # dup event collapses
        (20, 1), (20, 2),
        (30, 1), (30, 2), (30, 3),
    ])
    rows = item_cooccurrence_pairs(
        ev, min_support_num=2, min_support_den=3).collect()
    assert [(r.item_a, r.item_b, r.n_users) for r in rows] == [(1, 2, 3)]


def test_cooccurrence_heavy_user_cap(spark):
    """A user touching every item is dropped by the cap — their
    quadratic contribution (and their vote) disappears, including from
    the support denominator."""
    from lsh_spark.operators.graph import item_cooccurrence_pairs

    ev = _events(spark,
                 [(1, k) for k in range(10)]       # heavy: 10 items
                 + [(2, 1), (2, 2), (3, 1), (3, 2)])
    got = item_cooccurrence_pairs(
        ev, min_support_num=1, min_support_den=1,
        max_items_per_user=5).collect()
    # survivors: users 2 and 3 only -> (1,2) with support 2 of 2
    assert [(r.item_a, r.item_b, r.n_users) for r in got] == [(1, 2, 2)]


# ---------------------------------------------------------------------------
# randomized mirrors (seeded, deterministic)
# ---------------------------------------------------------------------------

def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def test_spark_levenshtein_matches_python_dp(spark):
    """200 seeded random string pairs: Spark's levenshtein (the edit
    operator's verify) equals the classic DP — pinning the engine
    semantics the oracle's DuckDB levenshtein must also share (the
    entry-oracle replica pins THAT side)."""
    import random

    rng = random.Random(1234)
    alpha = "abcdefg "
    pairs = [("".join(rng.choice(alpha) for _ in range(rng.randint(0, 24))),
              "".join(rng.choice(alpha) for _ in range(rng.randint(0, 24))))
             for _ in range(200)]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = [r.d for r in
           df.select(F.levenshtein("a", "b").alias("d")).collect()]
    assert got == [_py_lev(a, b) for a, b in pairs]


def test_batch_containment_matches_python_sets():
    """300 seeded random sorted-unique int32 array pairs: the row-tagged
    merge kernel equals plain Python set arithmetic."""
    import random

    import numpy as np

    from lsh_spark.operators.similarity_join import _batch_containment

    rng = random.Random(99)
    va, vb, expect = [], [], []
    for _ in range(300):
        sa = sorted(rng.sample(range(-50, 200), rng.randint(0, 40)))
        sb = sorted(rng.sample(range(-50, 200), rng.randint(0, 40)))
        va.append(np.array(sa, dtype=np.int32))
        vb.append(np.array(sb, dtype=np.int32))
        ni = len(set(sa) & set(sb))
        expect.append((ni / len(sa) if sa else 0.0,
                       ni / len(sb) if sb else 0.0))
    def flat(rows):
        offs = np.zeros(len(rows) + 1, dtype=np.int64)
        np.cumsum([len(r) for r in rows], out=offs[1:])
        return np.concatenate(rows).astype(np.int32), offs

    ca, cb = _batch_containment(*flat(va), *flat(vb))
    assert list(ca) == [e[0] for e in expect]
    assert list(cb) == [e[1] for e in expect]


# ---------------------------------------------------------------------------
# positional text index + phrase_search_indexed lifecycle
# ---------------------------------------------------------------------------

def _phrase_queries(spark, phrases):
    arr = F.array(*[F.lit(p) for p in phrases])
    return spark.range(len(phrases)).select(
        F.col("id").alias("query_id"),
        F.element_at(arr, (F.col("id") + 1).cast("int")).alias("phrase"))


def test_phrase_indexed_equals_on_the_fly_through_lifecycle(spark):
    """build(positional) → probe parity vs phrase_search; extend adds a
    matching doc; delete tombstones one; compact folds and keeps
    results — every transition re-checked against the on-the-fly
    operator over the equivalent live corpus."""
    from lsh_spark.operators.retrieval import (
        build_text_index,
        compact_text_index,
        delete_from_text_index,
        extend_text_index,
        phrase_search,
        phrase_search_indexed,
    )
    from lsh_spark.sources.formats import drop_table_and_files

    name = "t_phraseidx"
    base = _docs(spark, [
        (1, "alpha beta gamma alpha beta"),
        (2, "gamma delta epsilon"),
        (3, "alpha beta"),
    ])
    extra = _docs(spark, [(4, "zeta alpha beta eta")])
    q = _phrase_queries(spark, ["alpha beta", "gamma delta"])

    def canon(df):
        return sorted((r.query_id, r.doc_id, r.n_occurrences, r.first_pos)
                      for r in df.collect())

    try:
        build_text_index(base, name, num_buckets=4, positional=True)
        assert canon(phrase_search_indexed(spark, name, q)) == canon(
            phrase_search(base, q))
        extend_text_index(extra, name)
        live = base.unionByName(extra)
        assert canon(phrase_search_indexed(spark, name, q)) == canon(
            phrase_search(live, q))
        # re-append of an already-indexed id is skipped (no double votes)
        extend_text_index(extra, name)
        assert canon(phrase_search_indexed(spark, name, q)) == canon(
            phrase_search(live, q))
        delete_from_text_index(
            spark.range(1).select(F.lit(1).alias("doc_id")), name)
        live2 = live.where(F.col("doc_id") != 1)
        assert canon(phrase_search_indexed(spark, name, q)) == canon(
            phrase_search(live2, q))
        compact_text_index(spark, name)
        assert canon(phrase_search_indexed(spark, name, q)) == canon(
            phrase_search(live2, q))
        # tombstones folded out: the deletes table is gone
        assert not spark.catalog.tableExists(f"{name}_deletes")
    finally:
        for sfx in ("_postings", "_doclen", "_stats", "_positions",
                    "_meta", "_deletes"):
            for v in ("", "_v1"):
                drop_table_and_files(spark, f"{name}{sfx}{v}")


def test_phrase_indexed_requires_positional_build(spark):
    """A non-positional index refuses phrase probes loudly — also when it
    is a rebuild of a positional one, whose positions table the rebuild
    drops from the catalog and the warehouse."""
    import os

    import pytest

    from lsh_spark.operators.retrieval import (
        build_text_index,
        phrase_search_indexed,
    )
    from lsh_spark.sources.formats import _warehouse_path, drop_table_and_files

    name = "t_phraseidx_nopos"
    docs = _docs(spark, [(1, "alpha beta")])
    try:
        build_text_index(docs, name, num_buckets=2, positional=True)
        assert spark.catalog.tableExists(f"{name}_positions")
        build_text_index(docs, name, num_buckets=2)
        assert not spark.catalog.tableExists(f"{name}_positions")
        assert not os.path.isdir(
            os.path.join(_warehouse_path(spark), f"{name}_positions"))
        with pytest.raises(ValueError, match="positional"):
            phrase_search_indexed(
                spark, name, _phrase_queries(spark, ["alpha beta"]))
    finally:
        for sfx in ("_postings", "_doclen", "_stats", "_meta",
                    "_positions"):
            drop_table_and_files(spark, f"{name}{sfx}")


def test_single_token_docs_do_not_crash_bigram_ops(spark):
    """Spark's sequence(1, 0) is the DESCENDING [1, 0] — unguarded
    bigram transforms index past 1-token arrays (ANSI
    INVALID_ARRAY_INDEX) or fabricate 1-char 'pairs'.  All three bigram
    consumers must tolerate 1-token / 1-char inputs."""
    from lsh_spark.operators.training_ops import bpe_pair_counts

    docs = _docs(spark, [(1, "solo"), (2, "a"), (3, "ab cd ab"), (4, "")])
    assert tfidf_cosine_pairs(docs, threshold=0.0,
                              max_df_num=9, max_df_den=10).collect() == []
    got = {r.pair: r.n_total for r in
           bpe_pair_counts(docs, top_n=10).collect()}
    # 'a' (1 char) contributes nothing; 'solo' -> so ol lo; 'ab'x2, 'cd'
    assert got == {"ab": 2, "cd": 1, "so": 1, "ol": 1, "lo": 1}
    from lsh_spark.operators.pipeline_queries import _BIGRAM_K  # noqa: F401


# ---------------------------------------------------------------------------
# dedup_new_against_index + cap_per_source
# ---------------------------------------------------------------------------

def test_dedup_new_against_index_drops_planted_dup(spark):
    """A new batch probes a persisted corpus index: the near-dup of an
    indexed doc is dropped, the novel doc survives with its full row."""
    from lsh_spark.operators.similarity_join import (
        build_lsh_corpus_index,
        dedup_new_against_index,
    )
    from lsh_spark.sources.formats import drop_table_and_files

    name = "t_dedupidx"
    corpus = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "an entirely different reference document about spark"),
    ])
    new = _docs(spark, [
        (11, "the quick brown fox jumps over the lazy dog tonight!"),
        (12, "novel content that matches nothing in the corpus at all"),
    ])
    try:
        build_lsh_corpus_index(corpus, name, text_col="text",
                               id_col="doc_id", ngram_width=3,
                               band_count=8, band_size=2, seed=123)
        kept = dedup_new_against_index(
            spark, name, new, "text", id_col="doc_id",
            threshold=0.5).collect()
        assert [r.doc_id for r in kept] == [12]
        assert kept[0].text.startswith("novel content")
    finally:
        for sfx in ("_bands", "_sets", "_meta", "_deletes"):
            drop_table_and_files(spark, f"{name}{sfx}")


def test_cap_per_source_deterministic_and_bounded(spark):
    """Cap binds per source, survivors are the md5-order prefix, and
    the selection is layout-independent (repartition invariance)."""
    from lsh_spark.operators.training_ops import cap_per_source

    rows = ([(i, "big") for i in range(30)]
            + [(100 + i, "small") for i in range(3)])
    docs = spark.createDataFrame(rows, _SRC_SCHEMA)
    got = cap_per_source(docs, cap=5).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert len(by_src["big"]) == 5 and len(by_src["small"]) == 3
    again = cap_per_source(docs.repartition(7), cap=5).collect()
    assert {(r.doc_id, r.source) for r in again} == {
        (r.doc_id, r.source) for r in got}


def test_cap_per_source_matches_unbounded_window(spark):
    """The two-phase bucket-cutoff form keeps a keep set bit-identical
    to the naive full-window reference — including a source below the
    cap (NULL cutoff, admit-all path) and a dominant source where the
    cutoff bucket binds."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lsh_spark.operators.training_ops import cap_per_source

    rows = ([(i, "dominant") for i in range(500)]
            + [(10_000 + i, "mid") for i in range(40)]
            + [(20_000 + i, "tiny") for i in range(4)])
    docs = spark.createDataFrame(rows, _SRC_SCHEMA)
    got = {(r.doc_id, r.source)
           for r in cap_per_source(docs, cap=25).collect()}
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cap-v1")))
    w = Window.partitionBy("source").orderBy(key.asc(),
                                             F.col("doc_id").asc())
    ref = {(r.doc_id, r.source) for r in (
        docs.select("doc_id", "source",
                    F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 25).collect())}
    assert got == ref
    counts = {}
    for _id, src in got:
        counts[src] = counts.get(src, 0) + 1
    assert counts == {"dominant": 25, "mid": 25, "tiny": 4}


def test_mixture_repeat_regimes_and_sampler_parity(spark):
    """Copy counts respect each weight regime (0 / fractional / 1 / >1),
    and the w<=1 keep set equals mixture_sample_df's for the same salt."""
    from lsh_spark.operators.training_ops import (
        mixture_repeat_df,
        mixture_sample_df,
    )

    rows = [(i, f"src{i % 4}") for i in range(400)]
    docs = spark.createDataFrame(rows, _SRC_SCHEMA)
    weights = {"src0": 0.0, "src1": 0.4, "src2": 1.0, "src3": 2.5}
    rep = mixture_repeat_df(docs, weights).collect()
    by_src = {}
    for r in rep:
        by_src.setdefault(r.source, []).append(r.n_copies)
    assert set(by_src["src0"]) == {0}
    assert set(by_src["src1"]) <= {0, 1} and 1 in by_src["src1"]
    assert set(by_src["src2"]) == {1}
    assert set(by_src["src3"]) == {2, 3} and 3 in by_src["src3"]
    kept_sampler = {r.doc_id for r in
                    mixture_sample_df(docs, weights).collect()}
    kept_repeat = {r.doc_id for r in rep if r.n_copies >= 1
                   and r.source in ("src0", "src1")}
    sampler_le1 = {d for d in kept_sampler if d % 4 in (0, 1)}
    assert kept_repeat == sampler_le1


def test_boolean_search_must_and_must_not(spark):
    """Conjunction requires ALL must-terms; exclusion removes docs with
    ANY banned term; empty not-terms excludes nothing."""
    from lsh_spark.operators.retrieval import (
        boolean_search_indexed,
        build_text_index,
    )
    from lsh_spark.sources.formats import drop_table_and_files

    name = "t_boolidx"
    docs = _docs(spark, [
        (1, "alpha beta gamma"),
        (2, "alpha beta banned"),
        (3, "alpha gamma"),
        (4, "beta alpha delta"),
    ])
    q = spark.createDataFrame(
        [(0, "alpha beta", "banned"), (1, "alpha", "")],
        "query_id long, must_terms string, not_terms string")
    try:
        build_text_index(docs, name, num_buckets=2)
        got = sorted((r.query_id, r.doc_id) for r in
                     boolean_search_indexed(spark, name, q).collect())
        # q0: docs with alpha AND beta, minus 'banned' doc 2 -> 1, 4
        # q1: every doc has alpha, nothing banned -> all four
        assert got == [(0, 1), (0, 4), (1, 1), (1, 2), (1, 3), (1, 4)]
    finally:
        for sfx in ("_postings", "_doclen", "_stats", "_meta"):
            drop_table_and_files(spark, f"{name}{sfx}")


def test_user_item_components_two_communities(spark):
    """Two disjoint user↔item communities resolve to separate
    components labeled by their min encoded node; bridging them with
    one shared item merges the labels."""
    from lsh_spark.operators.graph import user_item_components

    def ev(rows):
        return spark.createDataFrame(
            [(u, f'{{"k": {k}}}') for u, k in rows],
            "user_id long, props string")

    # community A: users 1,2 share item 10; B: users 5,6 share item 20
    got = {(r.kind, r.id): r.component for r in user_item_components(
        ev([(1, 10), (2, 10), (5, 20), (6, 20)])).collect()}
    # min encoded node of A is user 1 (enc 2); of B user 5 (enc 10)
    assert got == {("user", 1): 2, ("user", 2): 2, ("item", 10): 2,
                   ("user", 5): 10, ("user", 6): 10, ("item", 20): 10}
    # bridge: user 6 also touches item 10 -> one component labeled 2
    merged = {(r.kind, r.id): r.component for r in user_item_components(
        ev([(1, 10), (2, 10), (5, 20), (6, 20), (6, 10)])).collect()}
    assert set(merged.values()) == {2}
