"""Quality tests for the pipeline operators that have no SQL oracle:
LSH-ANN recall, simhash behavior, winnowing guarantees, dedup policy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_ann_lsh_recall_vs_bruteforce(spark):
    from lsh_spark.operators import ann
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = ann.cosine_topk(emb, queries, k=10).collect()
    approx = ann.euclidean_lsh_topk(emb, queries, k=10).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"LSH ANN recall too low: {recall}"
    # scores for overlapping pairs must be identical (same rerank formula)
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert r.cosine_sim == exact_scores[(r.query_id, r.neighbor_id)]


def test_simhash_identical_and_different(spark):
    from lsh_spark.operators.dedup import simhash64

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "the quick brown fox jumps over the lazy cat"),
         (4, "completely unrelated text about database engines"),
         (5, None)],
        ["id", "text"])
    rows = {r.id: r.sig for r in
            df.select("id", simhash64("text").alias("sig")).collect()}
    assert rows[1] == rows[2]  # identical text → identical signature
    assert rows[5] is None

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert ham(rows[1], rows[3]) < ham(rows[1], rows[4])


def test_simhash_pairs_finds_near_dups(spark):
    from lsh_spark.operators.dedup import simhash_near_dup_pairs

    df = spark.createDataFrame(
        [(i, "common shared token stream alpha beta gamma delta epsilon "
             + ("zeta" if i % 2 else "eta")) for i in range(6)]
        + [(100 + i, f"totally distinct unrelated words number{i} "
                     f"other{i*7} thing{i*13}") for i in range(4)],
        ["doc_id", "text"])
    pairs = simhash_near_dup_pairs(df, "text", id_col="doc_id", max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # all same-parity small-id docs are identical texts → hamming 0
    assert (0, 2) in got and (1, 3) in got
    assert all(a < 100 and b < 100 for a, b in got)


def test_winnowing_shared_substring_guarantee(spark):
    from lsh_spark.functions.fingerprint import winnow_fingerprints

    shared = "abcdefghijklmnopqrstuvwxyz0123456789"  # len 36 >> w+k-1
    df = spark.createDataFrame(
        [(1, "PREFIX-" + shared + "-SUFFIX-ONE"),
         (2, "other-" + shared + "+trailing-two"),
         (3, "no overlap here at all, different content")],
        ["id", "text"])
    rows = {r.id: set(r.fp) for r in df.select(
        "id", winnow_fingerprints("text", kgram=5, window=4).alias("fp"))
        .collect()}
    assert rows[1] & rows[2], "shared substring must share a fingerprint"
    assert not (rows[1] & rows[3]) or len(rows[1] & rows[3]) < 2


def test_winnowing_empty_and_short(spark):
    from lsh_spark.functions.fingerprint import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, ""), (2, "abc"), (3, "abcde"), (4, None)], ["id", "text"])
    rows = {r.id: r.fp for r in df.select(
        "id", winnow_fingerprints("text", kgram=5, window=4).alias("fp"))
        .collect()}
    assert rows[1] == []          # no 5-grams
    assert rows[2] == []          # shorter than kgram
    assert len(rows[3]) == 1      # exactly one 5-gram
    assert rows[4] is None


def test_dedup_keep_first_consistent_with_pairs(spark):
    from lsh_spark.operators.similarity_join import (
        lsh_dedup_keep_first,
        lsh_self_dedup_pairs,
    )
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    kept = lsh_dedup_keep_first(
        docs, "text", id_col="doc_id", ngram_width=3, band_count=6,
        band_size=6, seed=123, threshold=0.8)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    pairs = lsh_self_dedup_pairs(
        docs, "text", id_col="doc_id", ngram_width=3, band_count=6,
        band_size=6, seed=123, threshold=0.8)
    dropped = {r.id_b for r in pairs.collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept_ids == all_ids - dropped
    assert kept.count() + len(dropped) == len(all_ids)


def test_exact_dedup_keeps_lowest_id(spark):
    from lsh_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(3, "aaa"), (1, "aaa"), (2, "bbb"), (9, "bbb"), (5, "ccc")],
        ["doc_id", "text"])
    kept = {r.doc_id for r in exact_dedup(df, "text", "doc_id").collect()}
    assert kept == {1, 2, 5}


def test_normalized_text(spark):
    from lsh_spark.operators.dedup import normalized_text

    df = spark.createDataFrame([("  Hello   WORLD \n",)], ["t"])
    assert df.select(normalized_text("t").alias("n")).first().n == "hello world"


def test_minhash_shingle_query_matches_core(spark):
    # the JVM word-bigram construction must feed the shingle overload with
    # exactly the python-side bigrams (regression: SQL-literal escaping)
    import duckdb

    from lsh_spark._core.minhash import minhash_bands
    from lsh_spark._core.shingles import shingle_set_from_shingles
    from lsh_spark.operators.lsh_queries import minhash_shingle_signatures

    rows = (minhash_shingle_signatures(spark, SF_DIR)
            .where("doc_id = 7").orderBy("band_idx").collect())
    text = duckdb.sql(
        f"select text from '{SF_DIR}/documents.parquet' where doc_id=7"
    ).fetchone()[0]
    toks = text.strip().split()
    bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    want = minhash_bands(shingle_set_from_shingles(bigrams), 4, 2, 123)
    assert [r.band_idx for r in rows] == [0, 1, 2, 3]
    # the gate query emits the int64 two's-complement band representation
    assert [int(r.band_hash) & 0xFFFFFFFFFFFFFFFF for r in rows] == want.tolist()


def test_ivf_ann_recall_vs_bruteforce(spark):
    from lsh_spark.operators import ann
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = ann.cosine_topk(emb, queries, k=10).collect()
    ivf = ann.ivf_topk(emb, queries, k=10, n_lists=8, n_probe=4).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf}
    recall = len(exact_set & ivf_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact}
    for r in ivf:
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert r.cosine_sim == exact_scores[(r.query_id, r.neighbor_id)]


def test_pq_topk_semantics(spark):
    """PQ/ADC on controlled two-cluster data: a query's own cluster
    fills its top-k (codes separate well-spread clusters), ranks are
    contiguous with non-decreasing rounded distance, self excluded,
    and dim % m != 0 raises."""
    import pytest

    from lsh_spark.operators import ann

    # two clusters, dim 8: ids 0-19 near e_A, ids 20-39 near e_B, with
    # deterministic per-id jitter well inside the cluster gap
    rows = []
    for i in range(40):
        base = ([10.0] * 4 + [0.0] * 4) if i < 20 else ([0.0] * 4 + [10.0] * 4)
        rows.append((i, [b + 0.01 * ((i * 7 + d) % 5) for d, b in
                         enumerate(base)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where(F.col("vec_id").isin(0, 25))
    got = ann.pq_topk(emb, queries, k=8, m=2, n_codes=4, n_iters=2,
                      dim=8).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        dists = [r.approx_dist for r in rs]
        assert dists == sorted(dists)
        assert all(r.neighbor_id != qid for r in rs)
        same_cluster = [r for r in rs
                        if (r.neighbor_id < 20) == (qid < 20)]
        assert len(same_cluster) == len(rs), (qid, rs)
    with pytest.raises(ValueError, match="not divisible"):
        ann.pq_topk(emb, queries, m=3, dim=8)

    # IVF-PQ on the same clusters: coarse pruning keeps the query's
    # cluster (the clusters ARE the natural cells), PQ scores inside —
    # results stay same-cluster and ranks contiguous
    ivfpq = ann.ivf_pq_topk(emb, queries, k=8, n_lists=2, n_probe=1,
                            cells_iters=2, m=2, n_codes=4, pq_iters=2,
                            dim=8).collect()
    by_q2 = {}
    for r in ivfpq:
        by_q2.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q2.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert all((r.neighbor_id < 20) == (qid < 20) for r in rs), rs


def test_pq_index_lifecycle(spark):
    """build → search equals on-the-fly pq_topk at the same params;
    extend encodes against the FROZEN codebooks, skips already-indexed
    ids, and the new vectors surface; delete tombstones merge-on-read
    and stats count live rows; attach re-registers from files."""
    import uuid

    from lsh_spark.operators import ann

    rows = [(i, [0.25 * ((i * 3 + d) % 7) for d in range(8)])
            for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where(F.col("vec_id") < 3)
    name = f"pqidx_{uuid.uuid4().hex[:8]}"
    try:
        ann.build_pq_index(emb, name, m=2, n_codes=4, n_iters=2, dim=8)
        direct = sorted(map(tuple, ann.pq_topk(
            emb, queries, k=5, m=2, n_codes=4, n_iters=2, dim=8).collect()))
        viaidx = sorted(map(tuple, ann.search_pq_index(
            spark, name, queries, k=5).collect()))
        assert direct == viaidx

        st = ann.pq_index_stats(spark, name).first()
        assert st.n_vectors == 30 and st.m == 2 and st.n_codes == 4

        # extend: ids 25-29 overlap (skipped — frozen first copy wins),
        # 30-34 are new
        more = spark.createDataFrame(
            [(i, [0.25 * ((i * 3 + d) % 7) for d in range(8)])
             for i in range(25, 35)],
            "vec_id long, embedding array<double>")
        ann.extend_pq_index(more, name)
        assert ann.pq_index_stats(spark, name).first().n_vectors == 35
        after = ann.search_pq_index(spark, name, queries, k=35).collect()
        assert {r.neighbor_id for r in after} >= {30, 31, 32, 33, 34}

        # delete: tombstoned ids vanish from search and stats
        ann.delete_from_pq_index(
            spark.createDataFrame([(30,), (1,)], ["vec_id"]), name)
        live = ann.search_pq_index(spark, name, queries, k=35).collect()
        assert not any(r.neighbor_id in (30, 1) for r in live)
        assert ann.pq_index_stats(spark, name).first().n_vectors == 33

        # attach from copied files under a new name (the cross-session
        # re-register contract)
        import os
        import shutil
        import tempfile

        from lsh_spark.sources.formats import _warehouse_path

        wh = _warehouse_path(spark)
        tmp = tempfile.mkdtemp()
        name2 = f"{name}b"
        for sfx in ("_codes", "_codebooks", "_meta", "_deletes"):
            shutil.copytree(os.path.join(wh, f"{name}{sfx}"),
                            os.path.join(tmp, f"{name2}{sfx}"))
        ann.attach_pq_index(spark, name2, location_root=tmp)
        again = sorted(map(tuple, ann.search_pq_index(
            spark, name2, queries, k=35).collect()))
        assert again == sorted(map(tuple, live))
    finally:
        from lsh_spark.sources.formats import drop_table_and_files

        for nm in (name, f"{name}b"):
            for sfx in ("_codes", "_codebooks", "_meta", "_deletes"):
                drop_table_and_files(spark, f"{nm}{sfx}")


def test_ivf_pq_index_lifecycle(spark):
    """build → search equals on-the-fly ivf_pq_topk at the same params;
    extend assigns+encodes against the FROZEN centroids/codebooks and
    skips already-indexed ids; tombstones merge-on-read; attach
    re-registers with bucket metadata (delete_from_pq_index is shared —
    it only needs the meta id_col and the _deletes contract)."""
    import uuid

    from lsh_spark.operators import ann

    rows = [(i, [0.25 * ((i * 3 + d) % 7) for d in range(8)])
            for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where(F.col("vec_id") < 3)
    name = f"ivfpq_{uuid.uuid4().hex[:8]}"
    params = dict(n_lists=3, cells_iters=2, m=2, n_codes=4, pq_iters=2,
                  dim=8)
    try:
        ann.build_ivf_pq_index(emb, name, num_buckets=4, **params)
        direct = sorted(map(tuple, ann.ivf_pq_topk(
            emb, queries, k=5, n_probe=2, **params).collect()))
        viaidx = sorted(map(tuple, ann.search_ivf_pq_index(
            spark, name, queries, k=5, n_probe=2).collect()))
        assert direct == viaidx

        more = spark.createDataFrame(
            [(i, [0.25 * ((i * 3 + d) % 7) for d in range(8)])
             for i in range(25, 35)],
            "vec_id long, embedding array<double>")
        ann.extend_ivf_pq_index(more, name)
        got = ann.search_ivf_pq_index(spark, name, queries, k=40,
                                      n_probe=3).collect()
        ids = {r.neighbor_id for r in got}
        assert ids & {30, 31, 32, 33, 34}  # new vectors reachable
        # the 25-29 overlap was skipped: at most one (query, neighbor)
        # row each — a double-encode would surface duplicates
        from collections import Counter

        pair_counts = Counter((r.query_id, r.neighbor_id) for r in got)
        assert max(pair_counts.values()) == 1, pair_counts.most_common(3)

        ann.delete_from_pq_index(
            spark.createDataFrame([(30,), (2,)], ["vec_id"]), name)
        live = ann.search_ivf_pq_index(spark, name, queries, k=40,
                                       n_probe=3).collect()
        assert not any(r.neighbor_id in (30, 2) for r in live)

        import os
        import shutil
        import tempfile

        from lsh_spark.sources.formats import _warehouse_path

        wh = _warehouse_path(spark)
        tmp = tempfile.mkdtemp()
        name2 = f"{name}b"
        for sfx in ("_codes", "_centroids", "_codebooks", "_meta",
                    "_deletes"):
            shutil.copytree(os.path.join(wh, f"{name}{sfx}"),
                            os.path.join(tmp, f"{name2}{sfx}"))
        ann.attach_ivf_pq_index(spark, name2, location_root=tmp)
        again = sorted(map(tuple, ann.search_ivf_pq_index(
            spark, name2, queries, k=40, n_probe=3).collect()))
        assert again == sorted(map(tuple, live))
        # the attached copy keeps build's bucket spec: extend appends
        ann.extend_ivf_pq_index(
            spark.createDataFrame([(40, [0.5] * 8)],
                                  "vec_id long, embedding array<double>"),
            name2)
        grown = ann.search_ivf_pq_index(spark, name2, queries, k=40,
                                        n_probe=3).collect()
        assert 40 in {r.neighbor_id for r in grown}

        # compaction folds the tombstones out of the codes: _deletes is
        # gone and searches return the same rows
        ann.compact_ivf_pq_index(spark, name)
        assert not spark.catalog.tableExists(f"{name}_deletes")
        compacted = sorted(map(tuple, ann.search_ivf_pq_index(
            spark, name, queries, k=40, n_probe=3).collect()))
        assert compacted == sorted(map(tuple, live))
    finally:
        from lsh_spark.sources.formats import drop_table_and_files

        for nm in (name, f"{name}b"):
            for sfx in ("_codes", "_codes_v1", "_centroids", "_codebooks",
                        "_meta", "_deletes"):
                drop_table_and_files(spark, f"{nm}{sfx}")


def test_pq_index_compaction(spark):
    """compact_pq_index folds tombstones out into generation 1 (one
    appended meta row is the swap), truncates _deletes, leaves the
    codebooks untouched, and search results are unchanged."""
    import uuid

    from lsh_spark.operators import ann

    rows = [(i, [0.25 * ((i * 3 + d) % 7) for d in range(8)])
            for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where(F.col("vec_id") < 3)
    name = f"pqcmp_{uuid.uuid4().hex[:8]}"
    try:
        ann.build_pq_index(emb, name, m=2, n_codes=4, n_iters=2, dim=8)
        more = spark.createDataFrame(
            [(i, [0.25 * ((i * 3 + d) % 7) for d in range(8)])
             for i in range(30, 35)],
            "vec_id long, embedding array<double>")
        ann.extend_pq_index(more, name)
        ann.delete_from_pq_index(
            spark.createDataFrame([(7,), (31,)], ["vec_id"]), name)
        before = sorted(map(tuple, ann.search_pq_index(
            spark, name, queries, k=35).collect()))
        ann.compact_pq_index(spark, name)
        after = sorted(map(tuple, ann.search_pq_index(
            spark, name, queries, k=35).collect()))
        assert before == after
        assert spark.catalog.tableExists(f"{name}_codes_v1")
        assert not spark.catalog.tableExists(f"{name}_deletes")
        assert ann.pq_index_stats(spark, name).first().n_vectors == 33
    finally:
        from lsh_spark.sources.formats import drop_table_and_files

        for sfx in ("_codes", "_codes_v1", "_codes_v2", "_codebooks",
                    "_meta", "_deletes"):
            drop_table_and_files(spark, f"{name}{sfx}")


def test_tune_bands_properties():
    from lsh_spark.operators.banding import (
        BandingPlan,
        collision_probability,
        tune_bands,
    )

    plan = tune_bands(0.8, target_recall=0.95, background_similarity=0.45)
    assert plan.recall_at_threshold >= 0.95
    # selectivity: background pass rate must be far below recall
    assert plan.background_pass_rate < 0.2
    assert plan.signature_size <= 256
    # S-curve sanity
    assert collision_probability(0.9, plan.band_count, plan.band_size) > \
        plan.recall_at_threshold
    with pytest.raises(ValueError):
        tune_bands(0.99, target_recall=0.99999999, max_signature_size=2)


def test_lsh_dedup_clusters_collapses_replicas(spark):
    from lsh_spark.operators.similarity_join import lsh_dedup_clusters
    from lsh_spark.sources.io import load_table

    base = load_table(spark, SF_DIR, "documents").limit(100)
    # 3 replicas with perturbed tails → same cluster as their base doc
    docs = base.selectExpr("doc_id * 3 as doc_id", "text").unionAll(
        base.selectExpr("doc_id * 3 + 1 as doc_id",
                        "concat(text, ' tailA') as text")).unionAll(
        base.selectExpr("doc_id * 3 + 2 as doc_id",
                        "concat(text, ' tailB') as text"))
    out = lsh_dedup_clusters(docs, "text", id_col="doc_id",
                             band_count=6, band_size=6)
    rows = out.collect()
    assert len(rows) == 300
    by_id = {r.doc_id: r for r in rows}
    # replicas of the same base doc must share one cluster
    for b in range(0, 30, 3):
        labels = {by_id[b].cluster_id, by_id[b + 1].cluster_id,
                  by_id[b + 2].cluster_id}
        assert len(labels) == 1
    reps = sum(1 for r in rows if r.is_representative)
    assert reps <= 150  # at least the replica clusters collapsed
    # representative = min id of its cluster
    for r in rows:
        assert by_id[r.cluster_id].is_representative
        assert r.cluster_id <= r.doc_id


def test_seed_rotation_union_semantics(spark):
    """Multi-seed blocking (README.md:146-148 rotation) finds exactly the
    union of per-seed results: verification is exact, so only candidate
    generation differs."""
    from lsh_spark.operators.similarity_join import lsh_self_dedup_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        "doc_id < 120")

    def pairs(seed):
        return set(
            (r.id_a, r.id_b)
            for r in lsh_self_dedup_pairs(
                docs, "text", id_col="doc_id", ngram_width=3,
                band_count=5, band_size=4, seed=seed, threshold=0.6,
            ).collect())

    rotated = pairs((123, 456))
    assert rotated == pairs(123) | pairs(456)


def test_ivf_flat_recall_and_scores_vs_bruteforce(spark):
    """The training-free quantizer trades cell quality for bit-exact
    oracle-ability; it must still behave like an IVF index — meaningful
    recall, and any overlapping neighbor scored identically to brute
    force (same cosine expression)."""
    from lsh_spark.operators import ann
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = ann.cosine_topk(emb, queries, k=10).collect()
    flat = ann.ivf_flat_topk(emb, queries, k=10, n_lists=8, n_probe=4).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    flat_set = {(r.query_id, r.neighbor_id) for r in flat}
    recall = len(exact_set & flat_set) / len(exact_set)
    assert recall >= 0.4, f"flat-IVF recall too low: {recall}"
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact}
    for r in flat:
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert r.cosine_sim == exact_scores[(r.query_id, r.neighbor_id)]
    # every query returns a full (or cell-bounded) ranked list 1..n
    by_q = {}
    for r in flat:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_lloyd_recall_at_least_flat_and_deterministic(spark):
    """The fixed-point Lloyd quantizer exists to beat the training-free
    cells without giving up determinism: recall must be ≥ flat-IVF's on
    the same index params, overlapping scores identical to brute force,
    and two runs bit-identical (no RNG anywhere)."""
    from lsh_spark.operators import ann
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = ann.cosine_topk(emb, queries, k=10).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}

    def recall(rows):
        got = {(r.query_id, r.neighbor_id) for r in rows}
        return len(exact_set & got) / len(exact_set)

    flat = ann.ivf_flat_topk(emb, queries, k=10, n_lists=8, n_probe=4).collect()
    lloyd = ann.ivf_lloyd_topk(
        emb, queries, k=10, n_lists=8, n_probe=4, n_iters=2).collect()
    assert recall(lloyd) >= recall(flat), (
        f"Lloyd recall {recall(lloyd)} below flat {recall(flat)}")
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact}
    for r in lloyd:
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert r.cosine_sim == exact_scores[(r.query_id, r.neighbor_id)]
    again = ann.ivf_lloyd_topk(
        emb, queries, k=10, n_lists=8, n_probe=4, n_iters=2).collect()
    assert sorted(map(tuple, lloyd)) == sorted(map(tuple, again))


def test_persisted_ivf_index_matches_in_memory_search(spark):
    """build_ivf_index + search_ivf_index is the amortized deployment
    shape: results must equal ivf_lloyd_topk with the same params, the
    corpus scan must come from the bucketed table (no re-assignment), and
    the probe join must not exchange the corpus side."""
    import uuid

    from lsh_spark.operators import ann
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    name = f"ivf_idx_{uuid.uuid4().hex[:8]}"
    try:
        ann.build_ivf_index(emb, name, n_lists=8, n_iters=2, num_buckets=8)
        got = ann.search_ivf_index(spark, name, queries, k=10, n_probe=4)
        want = ann.ivf_lloyd_topk(
            emb, queries, k=10, n_lists=8, n_probe=4, n_iters=2).collect()
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))

        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        # the only allowed hash exchange is the probe side / window; the
        # bucketed corpus must never re-shuffle on __cell
        for line in plan.splitlines():
            if "Exchange hashpartitioning(__cell" in line:
                assert "vec" not in line and "neighbor_id" not in line
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}_centroids")


def test_attach_lsh_index_cross_session(spark, tmp_path):
    """Simulate the next-session deployment shape: the index files exist
    but the (in-memory) catalog has no entries — attach re-registers them
    WITH their bucket spec and probes return identical results."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from lsh_spark.operators.similarity_join import (
        attach_lsh_corpus_index,
        build_lsh_corpus_index,
        lsh_similarity_join_indexed,
    )
    from lsh_spark.sources.formats import _warehouse_path
    from lsh_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0).selectExpr(
        "doc_id AS corpus_id", "text")
    probe = docs.where(F.col("doc_id") % 2 == 1).limit(40).selectExpr(
        "doc_id AS probe_id", "text")

    for t in ("atchsrc", "atchnew"):
        for sfx in ("bands", "sets", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{sfx}")
    build_lsh_corpus_index(corpus, "atchsrc", text_col="text",
                           id_col="corpus_id", ngram_width=3,
                           band_count=8, band_size=2, seed=123,
                           num_buckets=8)
    want = sorted(
        tuple(r) for r in lsh_similarity_join_indexed(
            spark, "atchsrc", probe, "text", probe_id="probe_id",
            threshold=0.5).collect())

    # "new session": files on disk, catalog empty — copy the table dirs
    # to a fresh location root and attach under a new index name
    wh = _warehouse_path(spark)
    for sfx in ("bands", "sets", "meta"):
        shutil.copytree(os.path.join(wh, f"atchsrc_{sfx}"),
                        tmp_path / f"atchnew_{sfx}")
    attach_lsh_corpus_index(spark, "atchnew", location_root=str(tmp_path))

    got = sorted(
        tuple(r) for r in lsh_similarity_join_indexed(
            spark, "atchnew", probe, "text", probe_id="probe_id",
            threshold=0.5).collect())
    assert got == want and len(got) > 0
    # the re-registered table carries its bucket spec (exchange-free reads)
    desc = spark.sql("DESCRIBE EXTENDED atchnew_bands").collect()
    desc_txt = "\n".join(f"{r.col_name} {r.data_type}" for r in desc)
    assert "Num Buckets 8" in desc_txt
    # attach is idempotent
    attach_lsh_corpus_index(spark, "atchnew", location_root=str(tmp_path))


def test_attach_ivf_index_cross_session(spark, tmp_path):
    import os
    import shutil

    from lsh_spark.operators.ann import (
        attach_ivf_index,
        build_ivf_index,
        search_ivf_index,
    )
    from lsh_spark.sources.formats import _warehouse_path
    from lsh_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    queries = emb.limit(10)
    for t in ("ivfsrc", "ivfnew"):
        for sfx in ("", "_centroids", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{sfx}")
    build_ivf_index(emb, "ivfsrc", n_lists=4, n_iters=1, num_buckets=4)
    want = sorted(tuple(r) for r in search_ivf_index(
        spark, "ivfsrc", queries, k=5, n_probe=2).collect())

    wh = _warehouse_path(spark)
    for sfx in ("", "_centroids", "_meta"):
        shutil.copytree(os.path.join(wh, f"ivfsrc{sfx}"),
                        tmp_path / f"ivfnew{sfx}")
    attach_ivf_index(spark, "ivfnew", location_root=str(tmp_path))
    got = sorted(tuple(r) for r in search_ivf_index(
        spark, "ivfnew", queries, k=5, n_probe=2).collect())
    assert got == want and len(got) > 0


def test_extend_lsh_index_matches_full_rebuild(spark):
    """Incremental append: building on half the corpus then extending
    with the other half must probe IDENTICALLY to one full build, and
    the appended tables must keep their bucket spec."""
    from pyspark.sql import functions as F

    from lsh_spark.operators.similarity_join import (
        build_lsh_corpus_index,
        extend_lsh_corpus_index,
        lsh_similarity_join_indexed,
    )
    from lsh_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0).selectExpr(
        "doc_id AS corpus_id", "text")
    probe = docs.where(F.col("doc_id") % 2 == 1).limit(40).selectExpr(
        "doc_id AS probe_id", "text")
    half1 = corpus.where(F.col("corpus_id") % 4 == 0)
    half2 = corpus.where(F.col("corpus_id") % 4 == 2)

    for t in ("extfull", "extinc"):
        for sfx in ("bands", "sets", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{sfx}")
    kw = dict(text_col="text", id_col="corpus_id", ngram_width=3,
              band_count=8, band_size=2, seed=123, num_buckets=8)
    build_lsh_corpus_index(corpus, "extfull", **kw)
    build_lsh_corpus_index(half1, "extinc", **kw)
    extend_lsh_corpus_index(half2, "extinc")

    want = sorted(tuple(r) for r in lsh_similarity_join_indexed(
        spark, "extfull", probe, "text", probe_id="probe_id",
        threshold=0.5).collect())
    got = sorted(tuple(r) for r in lsh_similarity_join_indexed(
        spark, "extinc", probe, "text", probe_id="probe_id",
        threshold=0.5).collect())
    assert got == want and len(got) > 0
    # bucketing survives the append: a groupBy on the bucket key of the
    # appended table plans with no Exchange
    plan = (spark.table("extinc_sets").groupBy("__rid").count()
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_semantic_dedup_cells_drops_within_cell_dups(spark):
    """Planted near-identical vectors in the same cell: only the lowest id
    survives; distant vectors stay representative; every input row comes
    back exactly once with its cell assignment."""
    from lsh_spark.operators.dedup import semantic_dedup_cells

    rows = [
        # ids 0..3 are the centroids (n_lists=4): four well-separated axes
        (0, [10.0, 0.0, 0.0]),
        (1, [0.0, 10.0, 0.0]),
        (2, [0.0, 0.0, 10.0]),
        (3, [-10.0, -10.0, -10.0]),
        # near-dups of centroid 0's direction → same cell, cosine ≈ 1
        (10, [9.0, 0.1, 0.0]),
        (11, [8.0, 0.05, 0.0]),
        # aligned with axis 1 → cell 1, collides with id 1 at cos≈1
        (12, [0.0, 7.0, 0.2]),
        # lands in cell 2 (closest to [0,0,10]) but at cos≈0.71 from the
        # centroid — below threshold, so it survives despite sharing a cell
        (13, [3.0, 4.0, 5.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_cells(df, n_lists=4, threshold=0.95).collect()
    by_id = {r.vec_id: r for r in out}
    assert len(out) == len(rows)
    # lowest id per similarity group survives
    assert by_id[0].is_representative
    assert not by_id[10].is_representative
    assert not by_id[11].is_representative
    assert by_id[1].is_representative
    assert not by_id[12].is_representative
    # 13 shares cell 2 with the centroid but is angularly distant → survives
    assert by_id[13].is_representative
    assert by_id[13].cell == by_id[2].cell
    # cell assignment: near-dups share their centroid's cell
    assert by_id[10].cell == by_id[0].cell == by_id[11].cell
    assert by_id[12].cell == by_id[1].cell


def test_allpairs_tile_kernel_matches_jvm_crossjoin(spark):
    """The blocked-tile cosine kernel must reproduce the JVM fold-based
    crossJoin pair scoring bit for bit (same rounded values, same pairs),
    including across block boundaries and for zero vectors."""
    import random

    from lsh_spark.functions.vector import cosine as jvm_cosine
    from lsh_spark.operators.dedup import embedding_allpairs_cosine

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    rows.append((80, [0.0] * 16))  # zero vector → cosine defined as 0.0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    tile = embedding_allpairs_cosine(df, threshold=0.2, block_count=5)
    base = df.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a = base.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = base.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.round(jvm_cosine("va", "vb"), 6))
        .where(F.col("cosine_sim") >= 0.2)
        .select("id_a", "id_b", "cosine_sim")
    )
    t = {(r.id_a, r.id_b): r.cosine_sim for r in tile.collect()}
    s = {(r.id_a, r.id_b): r.cosine_sim for r in brute.collect()}
    assert t == s and len(t) > 0


def test_embedding_near_dup_strategies_agree(spark):
    """block and verify_first are two physical plans for one logical
    result — they must return identical pair sets and values."""
    import random

    from lsh_spark.operators.dedup import embedding_near_dup_lsh

    rng = random.Random(11)
    rows = []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, v))
        if i % 7 == 0:  # planted near-dups
            rows.append((1000 + i, [x + rng.gauss(0, 0.05) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.8, bucket_width=2.0, band_count=8, band_size=1,
              seed=123)
    blk = embedding_near_dup_lsh(df, strategy="block", **kw)
    vf = embedding_near_dup_lsh(df, strategy="verify_first", block_count=4,
                                **kw)
    b = {(r.id_a, r.id_b): r.cosine_sim for r in blk.collect()}
    v = {(r.id_a, r.id_b): r.cosine_sim for r in vf.collect()}
    assert b == v and len(b) > 0


def test_pair_verify_paths_agree(spark):
    """broadcast-kernel verification (bare id pairs + broadcast set
    tables) and the shuffle-attach path are two physical plans for one
    logical result — identical pairs AND identical jaccard doubles."""
    from lsh_spark.operators.similarity_join import lsh_self_dedup_pairs
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    kw = dict(id_col="doc_id", ngram_width=3, band_count=6, band_size=6,
              seed=123, threshold=0.8)
    bc = lsh_self_dedup_pairs(docs, "text", broadcast_sets=True, **kw)
    sh = lsh_self_dedup_pairs(docs, "text", broadcast_sets=False, **kw)
    a = {(r.id_a, r.id_b): r.jaccard for r in bc.collect()}
    b = {(r.id_a, r.id_b): r.jaccard for r in sh.collect()}
    assert a == b and len(a) > 0


def test_upsert_replaces_and_inserts(spark):
    from lsh_spark.operators.merge import upsert

    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "v", "n"])
    updates = spark.createDataFrame(
        [(2, "B2", 21), (9, "new", 90)], ["k", "v", "n"])
    got = {r.k: (r.v, r.n) for r in upsert(target, updates, "k").collect()}
    assert got == {1: ("a", 10), 2: ("B2", 21), 3: ("c", 30), 9: ("new", 90)}


def test_scd2_apply_versions_and_closes(spark):
    import datetime as dt

    from lsh_spark.operators.merge import scd2_apply

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    t2 = dt.datetime(2024, 3, 1)
    history = spark.createDataFrame(
        [(1, "v1", t0, None, True), (2, "w1", t0, None, True)],
        "k long, v string, valid_from timestamp, valid_to timestamp, "
        "is_current boolean")
    updates = spark.createDataFrame(
        [(1, "v2", t1), (1, "v3", t2)], "k long, v string, ts timestamp")
    out = scd2_apply(history, updates, "k", ts_col="ts").collect()
    rows = {(r.k, r.v): r for r in out}
    assert len(out) == 4
    # untouched key passes through open
    assert rows[(2, "w1")].is_current and rows[(2, "w1")].valid_to is None
    # old open row closes at the first update ts
    assert not rows[(1, "v1")].is_current
    assert rows[(1, "v1")].valid_to == t1
    # chained versions: v2 closed at t2, v3 open
    assert not rows[(1, "v2")].is_current and rows[(1, "v2")].valid_to == t2
    assert rows[(1, "v3")].is_current and rows[(1, "v3")].valid_to is None
    # any historical instant has exactly one valid row per touched key
    for instant in (t0, t1, t2):
        live = [r for r in out if r.k == 1 and r.valid_from <= instant
                and (r.valid_to is None or instant < r.valid_to)]
        assert len(live) == 1, instant


def test_unpivot_melts_wide_columns(spark):
    from lsh_spark.operators.merge import unpivot

    df = spark.createDataFrame([(1, 10.0, 20.0)], ["id", "m_a", "m_b"])
    got = {(r.id, r.variable): r.value
           for r in unpivot(df, ["id"], ["m_a", "m_b"]).collect()}
    assert got == {(1, "m_a"): 10.0, (1, "m_b"): 20.0}


def test_assignment_kernel_matches_hof_reference(spark):
    """The numpy cell-assignment kernel must reproduce the in-plan HOF
    distance fold bit for bit: same argmin cell for every vector, same
    top-n_probe cells in the same order — including distance ties (the
    duplicated vector pair)."""
    import random

    from lsh_spark.operators.ann import (
        _assign_cells_pandas,
        _cells_array,
        _collect_centroids,
        _ivf_dists,
    )

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(8)]) for i in range(300)]
    rows.append((300, list(rows[5][1])))  # exact duplicate → tied argmin
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.select("vec_id", F.col("embedding").cast("array<double>").alias("__v"))
    cents = _cells_array(df, "vec_id", "embedding", 12)

    hof = {
        r.vec_id: r.cell for r in
        base.crossJoin(F.broadcast(cents))
        .withColumn("cell", F.array_min(_ivf_dists("__v"))["cell"])
        .collect()
    }
    kern = {
        r.vec_id: r["__cell"] for r in
        _assign_cells_pandas(base, _collect_centroids(cents), "__v")
        .collect()
    }
    assert kern == hof

    hof_probe = {
        (r.vec_id, r.pos): r.p["cell"] for r in
        base.crossJoin(F.broadcast(cents))
        .select("vec_id", F.posexplode(
            F.slice(F.array_sort(_ivf_dists("__v")), 1, 3)).alias("pos", "p"))
        .collect()
    }
    kern_probe = {}
    for r in _assign_cells_pandas(
            base, _collect_centroids(cents), "__v", n_probe=3).collect():
        k = r.vec_id
        pos = sum(1 for (kk, _p) in kern_probe if kk == k)
        kern_probe[(k, pos)] = r["__cell"]
    assert kern_probe == hof_probe


def test_extend_ivf_index_matches_frozen_quantizer_rebuild(spark):
    """Incremental vector ingest: with the quantizer frozen (n_iters=0
    -> centroids = the n_lists lowest-id vectors, all inside the first
    half), building on half the corpus then extending with the other
    half must search IDENTICALLY to one full build, and the appended
    cell-bucketed table must keep its bucket spec."""
    from pyspark.sql import functions as F

    from lsh_spark.operators.ann import (
        build_ivf_index,
        extend_ivf_index,
        search_ivf_index,
    )
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    half1 = emb.where(F.col("vec_id") < n // 2)
    half2 = emb.where(F.col("vec_id") >= n // 2)
    queries = emb.where(F.col("vec_id") < 8)

    for t in ("ivfextfull", "ivfextinc"):
        for sfx in ("", "_centroids", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{sfx}")
    kw = dict(n_lists=8, n_iters=0, num_buckets=8)
    build_ivf_index(emb, "ivfextfull", **kw)
    build_ivf_index(half1, "ivfextinc", **kw)
    extend_ivf_index(half2, "ivfextinc")

    assert spark.table("ivfextinc").count() == n
    want = sorted(tuple(r) for r in search_ivf_index(
        spark, "ivfextfull", queries, k=5, n_probe=3).collect())
    got = sorted(tuple(r) for r in search_ivf_index(
        spark, "ivfextinc", queries, k=5, n_probe=3).collect())
    assert got == want and len(got) > 0
    # bucketing survives the append: groupBy on the bucket key plans
    # with no Exchange
    plan = (spark.table("ivfextinc").groupBy("__cell").count()
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_weighted_keep_first_drops_tf_near_dups(spark):
    """shingle='weighted' keep-first: tf-near-identical docs collapse to
    the lowest id; a doc sharing the token SET but with a very
    different tf profile survives (plain set dedup would drop it)."""
    from lsh_spark.operators.similarity_join import lsh_dedup_keep_first

    rows = [
        (1, "spam spam spam spam ham ham eggs"),
        (2, "spam spam spam spam ham ham eggs"),       # exact tf copy
        (3, "spam spam spam spam ham ham bacon"),      # near (1 of 7 off)
        (4, "spam ham eggs"),                          # same SET, tf far
        (5, "completely different words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id for r in lsh_dedup_keep_first(
        df, "text", id_col="doc_id", band_count=16, band_size=2,
        seed=123, threshold=0.7, shingle="weighted").collect()}
    assert 1 in kept and 2 not in kept and 3 not in kept
    assert 4 in kept and 5 in kept


def test_delete_from_lsh_index_tombstones(spark):
    """Merge-on-read deletes: probing after delete_from_lsh_index must
    equal probing an index rebuilt WITHOUT the deleted docs; a full
    rebuild clears the tombstones."""
    from pyspark.sql import functions as F

    from lsh_spark.operators.similarity_join import (
        build_lsh_corpus_index,
        delete_from_lsh_index,
        lsh_similarity_join_indexed,
    )
    from lsh_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0).selectExpr(
        "doc_id AS corpus_id", "text")
    probe = docs.where(F.col("doc_id") % 2 == 1).limit(40).selectExpr(
        "doc_id AS probe_id", "text")
    kw = dict(text_col="text", id_col="corpus_id", ngram_width=3,
              band_count=8, band_size=2, seed=123, num_buckets=8)
    for t in ("deltest", "delref"):
        for sfx in ("bands", "sets", "meta", "deletes"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_{sfx}")
    build_lsh_corpus_index(corpus, "deltest", **kw)

    full = lsh_similarity_join_indexed(
        spark, "deltest", probe, "text", probe_id="probe_id",
        threshold=0.5).collect()
    assert len(full) > 0
    victims = sorted({r.corpus_id for r in full})[:3]
    delete_from_lsh_index(
        spark.createDataFrame([(v,) for v in victims],
                              "corpus_id long"), "deltest")
    after = lsh_similarity_join_indexed(
        spark, "deltest", probe, "text", probe_id="probe_id",
        threshold=0.5).collect()
    # reference: index built without the victims
    build_lsh_corpus_index(
        corpus.where(~F.col("corpus_id").isin(victims)), "delref", **kw)
    want = lsh_similarity_join_indexed(
        spark, "delref", probe, "text", probe_id="probe_id",
        threshold=0.5).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, want))
    assert not any(r.corpus_id in victims for r in after)
    # rebuilding the index clears the tombstones — catalog AND files
    # (a surviving directory would be resurrected by a later attach)
    import os

    from lsh_spark.sources.formats import _warehouse_path

    build_lsh_corpus_index(corpus, "deltest", **kw)
    assert not spark.catalog.tableExists("deltest_deletes")
    assert not os.path.isdir(
        os.path.join(_warehouse_path(spark), "deltest_deletes"))


def test_delete_from_ivf_index_tombstones(spark):
    """IVF merge-on-read deletes: search after delete excludes the
    victims and re-ranks exactly like an index rebuilt without them
    (frozen quantizer so both sides share centroids)."""
    from pyspark.sql import functions as F

    from lsh_spark.operators.ann import (
        build_ivf_index,
        delete_from_ivf_index,
        search_ivf_index,
    )
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    for t in ("ivfdel", "ivfdelref"):
        for sfx in ("", "_centroids", "_meta", "_deletes"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{sfx}")
    kw = dict(n_lists=8, n_iters=0, num_buckets=8)
    build_ivf_index(emb, "ivfdel", **kw)
    full = search_ivf_index(spark, "ivfdel", queries, k=5,
                            n_probe=3).collect()
    # victims must avoid the n_iters=0 seed set (the n_lists lowest-id
    # vectors): deleting a seed would change the REFERENCE index's
    # centroids and the parity assertion would fail for reasons
    # unrelated to tombstones
    victims = sorted({r.neighbor_id for r in full
                      if r.neighbor_id >= 8})[:3]
    assert len(victims) == 3
    delete_from_ivf_index(
        spark.createDataFrame([(v,) for v in victims], "vec_id long"),
        "ivfdel")
    after = search_ivf_index(spark, "ivfdel", queries, k=5,
                             n_probe=3).collect()
    build_ivf_index(emb.where(~F.col("vec_id").isin(victims)),
                    "ivfdelref", **kw)
    want = search_ivf_index(spark, "ivfdelref", queries, k=5,
                            n_probe=3).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, want))
    assert not any(r.neighbor_id in victims for r in after)
    build_ivf_index(emb, "ivfdel", **kw)
    assert not spark.catalog.tableExists("ivfdel_deletes")


def test_compact_lsh_index_shrinks_files_preserves_probes(spark):
    """Three extends stack file-sets per bucket; compaction rewrites to
    one set in a NEW generation (cmp_bands_v1) published via the meta
    pointer, probe results are byte-identical, bucket spec survives,
    and the old generation is reclaimed.  A second compaction chains
    the pointer (v1 → v2)."""
    import os

    from pyspark.sql import functions as F

    from lsh_spark.operators.similarity_join import (
        build_lsh_corpus_index,
        compact_lsh_index,
        extend_lsh_corpus_index,
        lsh_similarity_join_indexed,
    )
    from lsh_spark.sources.formats import _warehouse_path
    from lsh_spark.sources.index import index_meta, meta_version
    from lsh_spark.sources.io import load_table

    def n_files(table):
        d = os.path.join(_warehouse_path(spark), table)
        return sum(1 for _r, _d, fs in os.walk(d)
                   for f in fs if f.endswith(".parquet"))

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0).selectExpr(
        "doc_id AS corpus_id", "text")
    probe = docs.where(F.col("doc_id") % 2 == 1).limit(30).selectExpr(
        "doc_id AS probe_id", "text")
    for sfx in ("bands", "sets", "meta", "deletes"):
        for v in ("", "_v1", "_v2"):
            spark.sql(f"DROP TABLE IF EXISTS cmp_{sfx}{v}")
    parts = [corpus.where(F.col("corpus_id") % 8 == i) for i in (0, 2, 4, 6)]
    build_lsh_corpus_index(parts[0], "cmp", text_col="text",
                           id_col="corpus_id", ngram_width=3,
                           band_count=8, band_size=2, seed=123,
                           num_buckets=4)
    for p in parts[1:]:
        extend_lsh_corpus_index(p, "cmp")
    before_files = n_files("cmp_bands")
    before = sorted(tuple(r) for r in lsh_similarity_join_indexed(
        spark, "cmp", probe, "text", probe_id="probe_id",
        threshold=0.5).collect())
    compact_lsh_index(spark, "cmp")
    assert meta_version(index_meta(spark, "cmp_meta")) == 1
    after_files = n_files("cmp_bands_v1")
    after = sorted(tuple(r) for r in lsh_similarity_join_indexed(
        spark, "cmp", probe, "text", probe_id="probe_id",
        threshold=0.5).collect())
    assert after == before and len(after) > 0
    assert after_files < before_files
    # the old generation's files are reclaimed by the default cleanup
    assert not os.path.isdir(
        os.path.join(_warehouse_path(spark), "cmp_bands"))
    plan = (spark.table("cmp_bands_v1").groupBy("band_idx", "band_hash")
            .count()._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    # pointer chains across repeated compactions
    compact_lsh_index(spark, "cmp")
    assert meta_version(index_meta(spark, "cmp_meta")) == 2
    again = sorted(tuple(r) for r in lsh_similarity_join_indexed(
        spark, "cmp", probe, "text", probe_id="probe_id",
        threshold=0.5).collect())
    assert again == before


def test_compact_ivf_index_preserves_search(spark):
    from pyspark.sql import functions as F

    from lsh_spark.operators.ann import (
        build_ivf_index,
        compact_ivf_index,
        extend_ivf_index,
        search_ivf_index,
    )
    from lsh_spark.sources.io import load_table

    import os

    from lsh_spark.sources.formats import _warehouse_path

    def n_files(table):
        d = os.path.join(_warehouse_path(spark), table)
        return sum(1 for _r, _d, fs in os.walk(d)
                   for f in fs if f.endswith(".parquet"))

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    queries = emb.where(F.col("vec_id") < 5)
    for sfx in ("", "_centroids", "_meta", "_deletes", "_v1", "_v2"):
        spark.sql(f"DROP TABLE IF EXISTS ivfcmp{sfx}")
    build_ivf_index(emb.where(F.col("vec_id") < n // 2), "ivfcmp",
                    n_lists=8, n_iters=0, num_buckets=4)
    extend_ivf_index(emb.where(F.col("vec_id") >= n // 2), "ivfcmp")
    before_files = n_files("ivfcmp")
    before = sorted(tuple(r) for r in search_ivf_index(
        spark, "ivfcmp", queries, k=5, n_probe=3).collect())
    compact_ivf_index(spark, "ivfcmp")
    after = sorted(tuple(r) for r in search_ivf_index(
        spark, "ivfcmp", queries, k=5, n_probe=3).collect())
    assert after == before and len(after) > 0
    assert n_files("ivfcmp_v1") < before_files
    # the old generation is reclaimed; searches resolve the new one
    import os as _os

    assert not _os.path.isdir(
        _os.path.join(_warehouse_path(spark), "ivfcmp"))
    # bucket spec survives the swap: groupBy on the bucket key plans
    # with no Exchange
    plan = (spark.table("ivfcmp_v1").groupBy("__cell").count()
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_similarity_join_ab_weighted_mode(spark):
    """A/B join with shingle='weighted': tf-similar cross-table pairs
    match, tf-distant set-equal pairs don't."""
    from lsh_spark.operators.similarity_join import lsh_similarity_join

    a = spark.createDataFrame(
        [(1, "spam spam spam spam ham ham eggs")], "pid long, text string")
    b = spark.createDataFrame(
        [(10, "spam spam spam spam ham ham eggs"),   # tf-identical
         (11, "spam ham eggs"),                      # same set, tf far
         (12, "different things entirely")],
        "cid long, text string")
    got = {(r.pid, r.cid) for r in lsh_similarity_join(
        a, b, "text", "text", left_id="pid", right_id="cid",
        band_count=16, band_size=2, seed=123, threshold=0.7,
        shingle="weighted").collect()}
    assert got == {(1, 10)}


def test_dedup_clusters_weighted_mode(spark):
    """Pair-free cluster dedup over weighted sets: tf-identical docs
    cluster together; a tf-distant set-equal doc stays its own
    representative (selective banding keeps them apart)."""
    from lsh_spark.operators.similarity_join import lsh_dedup_clusters

    rows = [
        (1, "spam spam spam spam ham ham eggs"),
        (2, "spam spam spam spam ham ham eggs"),
        (3, "spam ham eggs"),
        (4, "totally different content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in lsh_dedup_clusters(
        df, "text", id_col="doc_id", band_count=4, band_size=4,
        seed=123, shingle="weighted").collect()}
    assert out[1].cluster_id == out[2].cluster_id
    assert out[1].is_representative and not out[2].is_representative
    assert out[3].is_representative
    assert out[4].is_representative


def test_indexed_join_pins_weighted_shingle_mode(spark):
    """The shingle mode is an index-defining parameter: a weighted index
    probes with weighted sets (meta-pinned — no silent char drift) and
    matches the ad-hoc weighted A/B join exactly."""
    from pyspark.sql import functions as F

    from lsh_spark.operators.similarity_join import (
        build_lsh_corpus_index,
        lsh_similarity_join,
        lsh_similarity_join_indexed,
    )

    corpus = spark.createDataFrame(
        [(10, "spam spam spam spam ham ham eggs"),
         (11, "spam ham eggs"),
         (12, "other words entirely here")],
        "corpus_id long, text string")
    probe = spark.createDataFrame(
        [(1, "spam spam spam spam ham ham eggs")],
        "probe_id long, text string")
    for sfx in ("bands", "sets", "meta", "deletes"):
        spark.sql(f"DROP TABLE IF EXISTS widx_{sfx}")
    build_lsh_corpus_index(
        corpus, "widx", text_col="text", id_col="corpus_id",
        ngram_width=1, band_count=16, band_size=2, seed=123,
        num_buckets=4, shingle="weighted")
    got = sorted(tuple(r) for r in lsh_similarity_join_indexed(
        spark, "widx", probe, "text", probe_id="probe_id",
        threshold=0.7).collect())
    want = sorted(tuple(r) for r in lsh_similarity_join(
        probe, corpus, "text", "text", left_id="probe_id",
        right_id="corpus_id", ngram_width=1, band_count=16, band_size=2,
        seed=123, threshold=0.7, shingle="weighted").collect())
    assert got == want
    assert {r[1] for r in got} == {10}   # tf-identical only


def test_compact_refuses_custom_location_and_rebuild_over_attach_works(
        spark, tmp_path):
    """(a) compact_lsh_index must refuse an index attached at a CUSTOM
    location — the compacted generation lands in the warehouse, which
    would split the index across directories (and the custom files are
    not ours to reclaim); (b) rebuilding over an attached index must
    succeed (the overwrite path clears the external-at-warehouse entry
    + files first instead of dying with LOCATION_ALREADY_EXISTS)."""
    import os
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from lsh_spark.operators.similarity_join import (
        attach_lsh_corpus_index,
        build_lsh_corpus_index,
        compact_lsh_index,
        lsh_similarity_join_indexed,
    )
    from lsh_spark.sources.formats import (
        _warehouse_path,
        drop_table_and_files,
    )
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0).limit(200).selectExpr(
        "doc_id AS corpus_id", "text")
    probe = docs.where(F.col("doc_id") % 2 == 1).limit(20).selectExpr(
        "doc_id AS probe_id", "text")
    kw = dict(text_col="text", id_col="corpus_id", ngram_width=3,
              band_count=8, band_size=2, seed=123, num_buckets=4)
    for t in ("extc_bands", "extc_sets", "extc_meta", "extc_deletes",
              "extx_bands", "extx_sets", "extx_meta"):
        drop_table_and_files(spark, t)
    build_lsh_corpus_index(corpus, "extc", **kw)

    # (a) the same index attached from a COPY at a custom root
    custom = tmp_path / "idxroot"
    custom.mkdir()
    for sfx in ("bands", "sets", "meta"):
        shutil.copytree(
            os.path.join(_warehouse_path(spark), f"extc_{sfx}"),
            str(custom / f"extx_{sfx}"))
    attach_lsh_corpus_index(spark, "extx", location_root=str(custom))
    with _pytest.raises(ValueError, match="custom location"):
        compact_lsh_index(spark, "extx")
    assert os.path.isdir(str(custom / "extx_bands"))   # nothing deleted

    # (b) simulate a cross-session attach at the DEFAULT warehouse
    # location: copy the index dirs under a fresh name inside the
    # warehouse (files present, catalog empty — what a new session
    # sees), attach, then a full rebuild must succeed instead of dying
    # with LOCATION_ALREADY_EXISTS on the surviving directories
    from lsh_spark.operators.similarity_join import attach_lsh_corpus_index

    wh = _warehouse_path(spark)
    for t in ("extd_bands", "extd_sets", "extd_meta", "extd_deletes"):
        drop_table_and_files(spark, t)
    for sfx in ("bands", "sets", "meta"):
        shutil.copytree(os.path.join(wh, f"extc_{sfx}"),
                        os.path.join(wh, f"extd_{sfx}"))
    attach_lsh_corpus_index(spark, "extd")
    build_lsh_corpus_index(corpus, "extd", **kw)     # must not raise
    got = lsh_similarity_join_indexed(
        spark, "extd", probe, "text", probe_id="probe_id",
        threshold=0.5).count()
    assert got > 0

    # (c) an index attached at the WAREHOUSE default (the cross-session
    # shape) is now compactable: the versioned rewrite never renames,
    # it reads the attached generation and publishes a managed v1
    for t in ("exte_bands", "exte_sets", "exte_meta"):
        drop_table_and_files(spark, t)
    for sfx in ("bands", "sets", "meta"):
        shutil.copytree(os.path.join(wh, f"extc_{sfx}"),
                        os.path.join(wh, f"exte_{sfx}"))
    attach_lsh_corpus_index(spark, "exte")
    want = sorted(tuple(r) for r in lsh_similarity_join_indexed(
        spark, "exte", probe, "text", probe_id="probe_id",
        threshold=0.5).collect())
    compact_lsh_index(spark, "exte")
    got2 = sorted(tuple(r) for r in lsh_similarity_join_indexed(
        spark, "exte", probe, "text", probe_id="probe_id",
        threshold=0.5).collect())
    assert got2 == want and len(got2) > 0


def test_compact_lsh_index_folds_tombstones(spark):
    """Compaction is the tombstone-fold point: after delete + compact,
    (a) the ``_deletes`` table is gone — catalog and files — so probes
    stop paying the anti-join, (b) the folded generation's ``_sets``
    physically lacks the victims, and (c) probe results equal an index
    rebuilt WITHOUT the victims (the rebuilt-parity pin, re-targeted
    from the delete test per the r5 verdict)."""
    import os

    from pyspark.sql import functions as F

    from lsh_spark.operators.similarity_join import (
        build_lsh_corpus_index,
        compact_lsh_index,
        delete_from_lsh_index,
        lsh_similarity_join_indexed,
    )
    from lsh_spark.sources.formats import _warehouse_path
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0).selectExpr(
        "doc_id AS corpus_id", "text")
    probe = docs.where(F.col("doc_id") % 2 == 1).limit(40).selectExpr(
        "doc_id AS probe_id", "text")
    kw = dict(text_col="text", id_col="corpus_id", ngram_width=3,
              band_count=8, band_size=2, seed=123, num_buckets=8)
    for t in ("fold", "foldref"):
        for sfx in ("bands", "sets", "meta", "deletes"):
            for v in ("", "_v1"):
                spark.sql(f"DROP TABLE IF EXISTS {t}_{sfx}{v}")
    build_lsh_corpus_index(corpus, "fold", **kw)
    full = lsh_similarity_join_indexed(
        spark, "fold", probe, "text", probe_id="probe_id",
        threshold=0.5).collect()
    victims = sorted({r.corpus_id for r in full})[:3]
    assert len(victims) == 3
    delete_from_lsh_index(
        spark.createDataFrame([(v,) for v in victims], "corpus_id long"),
        "fold")
    compact_lsh_index(spark, "fold")
    # (a) tombstones truncated
    assert not spark.catalog.tableExists("fold_deletes")
    assert not os.path.isdir(
        os.path.join(_warehouse_path(spark), "fold_deletes"))
    # (b) physically reclaimed
    assert spark.table("fold_sets_v1").where(
        F.col("__rid").isin(victims)).count() == 0
    assert spark.table("fold_bands_v1").where(
        F.col("__rid").isin(victims)).count() == 0
    # (c) parity with a rebuild-without-victims
    after = lsh_similarity_join_indexed(
        spark, "fold", probe, "text", probe_id="probe_id",
        threshold=0.5).collect()
    build_lsh_corpus_index(
        corpus.where(~F.col("corpus_id").isin(victims)), "foldref", **kw)
    want = lsh_similarity_join_indexed(
        spark, "foldref", probe, "text", probe_id="probe_id",
        threshold=0.5).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, want))
    assert len(after) > 0 and not any(r.corpus_id in victims
                                      for r in after)


def test_compact_ivf_index_folds_tombstones(spark):
    """IVF twin of the tombstone fold: delete + compact physically
    removes the victims, truncates ``_deletes``, and searches match an
    index rebuilt without them (frozen quantizer on both sides)."""
    import os

    from pyspark.sql import functions as F

    from lsh_spark.operators.ann import (
        build_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        search_ivf_index,
    )
    from lsh_spark.sources.formats import _warehouse_path
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    for t in ("ivffold", "ivffoldref"):
        for sfx in ("", "_centroids", "_meta", "_deletes", "_v1"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{sfx}")
    kw = dict(n_lists=8, n_iters=0, num_buckets=8)
    build_ivf_index(emb, "ivffold", **kw)
    full = search_ivf_index(spark, "ivffold", queries, k=5,
                            n_probe=3).collect()
    # avoid the n_iters=0 seed vectors (see the delete test's rationale)
    victims = sorted({r.neighbor_id for r in full if r.neighbor_id >= 8})[:3]
    assert len(victims) == 3
    delete_from_ivf_index(
        spark.createDataFrame([(v,) for v in victims], "vec_id long"),
        "ivffold")
    compact_ivf_index(spark, "ivffold")
    assert not spark.catalog.tableExists("ivffold_deletes")
    assert not os.path.isdir(
        os.path.join(_warehouse_path(spark), "ivffold_deletes"))
    assert spark.table("ivffold_v1").where(
        F.col("neighbor_id").isin(victims)).count() == 0
    after = search_ivf_index(spark, "ivffold", queries, k=5,
                             n_probe=3).collect()
    build_ivf_index(emb.where(~F.col("vec_id").isin(victims)),
                    "ivffoldref", **kw)
    want = search_ivf_index(spark, "ivffoldref", queries, k=5,
                            n_probe=3).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, want))
    assert len(after) > 0


def test_compact_swap_is_probe_safe(spark):
    """The generation swap is one appended meta row: a probe plan
    PREPARED against the old generation still collects correctly after
    the flip (``keep_previous=True`` leaves its files and the
    ``_deletes`` rows it needs), new plans resolve the new generation,
    and the next compaction sweeps the deferred debris."""
    import os

    from pyspark.sql import functions as F

    from lsh_spark.operators.similarity_join import (
        build_lsh_corpus_index,
        compact_lsh_index,
        delete_from_lsh_index,
        lsh_similarity_join_indexed,
    )
    from lsh_spark.sources.formats import _warehouse_path
    from lsh_spark.sources.index import index_meta, meta_version
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0).selectExpr(
        "doc_id AS corpus_id", "text")
    probe = docs.where(F.col("doc_id") % 2 == 1).limit(30).selectExpr(
        "doc_id AS probe_id", "text")
    kw = dict(text_col="text", id_col="corpus_id", ngram_width=3,
              band_count=8, band_size=2, seed=123, num_buckets=4)
    for sfx in ("bands", "sets", "meta", "deletes"):
        for v in ("", "_v1", "_v2"):
            spark.sql(f"DROP TABLE IF EXISTS ps_{sfx}{v}")
    build_lsh_corpus_index(corpus, "ps", **kw)
    full = lsh_similarity_join_indexed(
        spark, "ps", probe, "text", probe_id="probe_id",
        threshold=0.5).collect()
    victims = sorted({r.corpus_id for r in full})[:2]
    delete_from_lsh_index(
        spark.createDataFrame([(v,) for v in victims], "corpus_id long"),
        "ps")
    # prepare the plan BEFORE the flip — resolves generation 0 + deletes
    prepared = lsh_similarity_join_indexed(
        spark, "ps", probe, "text", probe_id="probe_id", threshold=0.5)
    want = sorted(tuple(r) for r in prepared.collect())
    compact_lsh_index(spark, "ps", keep_previous=True)
    # the old generation and its tombstones survive for in-flight plans
    assert os.path.isdir(os.path.join(_warehouse_path(spark), "ps_bands"))
    assert spark.catalog.tableExists("ps_deletes")
    got_prepared = sorted(tuple(r) for r in prepared.collect())
    assert got_prepared == want
    # a fresh plan resolves generation 1 and agrees
    got_new = sorted(tuple(r) for r in lsh_similarity_join_indexed(
        spark, "ps", probe, "text", probe_id="probe_id",
        threshold=0.5).collect())
    assert got_new == want and len(got_new) > 0
    # the next compaction sweeps the deferred generation-0 debris
    compact_lsh_index(spark, "ps")
    assert meta_version(index_meta(spark, "ps_meta")) == 2
    assert not os.path.isdir(
        os.path.join(_warehouse_path(spark), "ps_bands"))
    assert not spark.catalog.tableExists("ps_deletes")


def test_delete_adopts_orphan_tombstones(spark, tmp_path):
    """ADVICE r5: deleting in a fresh session WITHOUT a prior attach
    must not destroy surviving cross-session tombstones — the orphaned
    ``_deletes`` directory is adopted (attached) so the append MERGES.
    Simulated by dropping the catalog entry while keeping the files."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from lsh_spark.operators.similarity_join import (
        build_lsh_corpus_index,
        delete_from_lsh_index,
        lsh_similarity_join_indexed,
    )
    from lsh_spark.sources.formats import _warehouse_path
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0).selectExpr(
        "doc_id AS corpus_id", "text")
    probe = docs.where(F.col("doc_id") % 2 == 1).limit(40).selectExpr(
        "doc_id AS probe_id", "text")
    kw = dict(text_col="text", id_col="corpus_id", ngram_width=3,
              band_count=8, band_size=2, seed=123, num_buckets=4)
    for sfx in ("bands", "sets", "meta", "deletes"):
        spark.sql(f"DROP TABLE IF EXISTS orph_{sfx}")
    build_lsh_corpus_index(corpus, "orph", **kw)
    full = lsh_similarity_join_indexed(
        spark, "orph", probe, "text", probe_id="probe_id",
        threshold=0.5).collect()
    hits = sorted({r.corpus_id for r in full})
    assert len(hits) >= 4
    v1, v2 = hits[:2], hits[2:4]
    delete_from_lsh_index(
        spark.createDataFrame([(v,) for v in v1], "corpus_id long"),
        "orph")
    # simulate session death: files survive, catalog entry does not
    deldir = os.path.join(_warehouse_path(spark), "orph_deletes")
    stash = str(tmp_path / "deletes_stash")
    shutil.copytree(deldir, stash)
    spark.sql("DROP TABLE orph_deletes")        # managed drop: files go
    shutil.copytree(stash, deldir)              # ...and come back
    assert not spark.catalog.tableExists("orph_deletes")
    delete_from_lsh_index(
        spark.createDataFrame([(v,) for v in v2], "corpus_id long"),
        "orph", id_col="corpus_id")
    merged = {r["__rid"] for r in spark.table("orph_deletes").collect()}
    assert merged == set(v1) | set(v2)
    after = lsh_similarity_join_indexed(
        spark, "orph", probe, "text", probe_id="probe_id",
        threshold=0.5).collect()
    assert not any(r.corpus_id in merged for r in after)


def test_weighted_word_mode_separates_tf_profiles(spark):
    """shingle='weighted_word': bigram-tf-identical docs pair; a doc
    with the same bigram SET but a far tf profile does not (plain word
    shingles would pair it); unknown-mode typo still raises."""
    import pytest as _pytest

    from lsh_spark.operators.similarity_join import lsh_self_dedup_pairs

    rows = [
        (1, "to be or not to be or not to be"),
        (2, "to be or not to be or not to be"),   # tf-identical bigrams
        (3, "to be or not"),                      # same bigram set, tf far
        (4, "completely different words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b) for r in lsh_self_dedup_pairs(
        df, "text", id_col="doc_id", ngram_width=2, band_count=16,
        band_size=2, seed=123, threshold=0.7,
        shingle="weighted_word").collect()}
    assert got == {(1, 2)}
    with _pytest.raises(ValueError, match="unknown shingle mode"):
        lsh_self_dedup_pairs(df, "text", id_col="doc_id",
                             shingle="wieghted_word")


def test_dedup_lines_keeps_first_occurrence_and_rebuilds(spark):
    """C4-style duplicated-line removal: a line repeated across docs
    survives only at its lowest (doc_id, pos); docs rebuild from their
    surviving lines in order; a doc whose every line is a later copy
    collapses to the empty string (n_kept = 0)."""
    from lsh_spark.operators.dedup import dedup_lines_df

    rows = [
        (1, "alpha\nshared footer\nbeta"),
        (2, "gamma\nshared footer"),          # footer is a later copy
        (3, "shared footer"),                 # loses its ONLY line
        (4, "alpha"),                         # dup of doc 1 line 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup_lines_df(df).collect()}
    assert (got[1].n_lines, got[1].n_kept) == (3, 3)
    assert got[1].clean_text == "alpha\nshared footer\nbeta"
    assert (got[2].n_lines, got[2].n_kept) == (2, 1)
    assert got[2].clean_text == "gamma"
    assert (got[3].n_lines, got[3].n_kept) == (1, 0)
    assert got[3].clean_text == ""
    assert (got[4].n_lines, got[4].n_kept) == (1, 0)


def test_pii_redaction_counts_and_placeholders(spark):
    """functions.pii: counts and global redaction for all three pattern
    families, zero-signal rows untouched, multiple occurrences all
    replaced."""
    from pyspark.sql import functions as F

    from lsh_spark.functions import pii

    rows = [
        (1, "mail a@b.io and c.d+e@f-g.org, ip 10.0.0.1, call "
            "555-123-4567 or 555-000-1111"),
        (2, "no pii here at all"),
        (3, "edge 999.999.999.999 still ipv4-shaped; not-a-phone "
            "5551234567"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: r for r in df.select(
        "id",
        pii.email_count("text").alias("e"),
        pii.ipv4_count("text").alias("i"),
        pii.phone_count("text").alias("p"),
        pii.redact_pii(F.col("text")).alias("clean"),
    ).collect()}
    assert (out[1].e, out[1].i, out[1].p) == (2, 1, 2)
    assert out[1].clean == ("mail <EMAIL> and <EMAIL>, ip <IP>, call "
                            "<PHONE> or <PHONE>")
    assert (out[2].e, out[2].i, out[2].p) == (0, 0, 0)
    assert out[2].clean == "no pii here at all"
    # the documented contract: IPv4-SHAPED (no octet range check), and
    # phones need separators
    assert (out[3].e, out[3].i, out[3].p) == (0, 1, 0)


def test_keep_longest_prefers_length_then_lowest_id(spark):
    """lsh_dedup_keep_longest: within a near-dup component the longest
    text wins; equal lengths break to the lowest id; singletons keep
    themselves."""
    from lsh_spark.operators.similarity_join import lsh_dedup_keep_longest

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " extended with extra trailing content here"),  # longest
        (3, base),                             # same len as 1 -> 1 wins tie
        (9, "completely unrelated text with different words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id: r for r in lsh_dedup_keep_longest(
        df, "text", id_col="doc_id", ngram_width=3, band_count=4,
        band_size=4, seed=7).collect()}
    assert 2 in kept and kept[2].n_chars == len(rows[1][1])
    assert 9 in kept
    assert 1 not in kept and 3 not in kept


def test_dedup_lines_property_vs_reference(spark):
    """Property: dedup_lines_df over randomized corpora (shared and
    unique lines, empty lines, duplicate lines WITHIN one doc) matches a
    direct python reference of the keep-first-occurrence rule.  One
    Spark round-trip over many generated corpora (hypothesis drives the
    corpus shape, examples batched into a single job per draw)."""
    try:
        from hypothesis import given, settings
        from hypothesis import strategies as st
    except ImportError:
        return

    from lsh_spark.operators.dedup import dedup_lines_df

    line_pool = ["alpha beta", "gamma", "", "shared footer", "x y z",
                 "alpha beta", "copyright"]

    @settings(max_examples=15, deadline=None)
    @given(st.lists(
        st.lists(st.sampled_from(line_pool), min_size=1, max_size=5),
        min_size=1, max_size=8))
    def run(docs):
        rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
        # python reference: first (doc_id, pos) occurrence wins
        seen, want = set(), {}
        for i, lines in enumerate(docs):
            kept = []
            for ln in lines:
                if ln not in seen:
                    seen.add(ln)
                    kept.append(ln)
            want[i] = (len(lines), len(kept), "\n".join(kept))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_lines, r.n_kept, r.clean_text)
               for r in dedup_lines_df(df).collect()}
        assert got == want

    run()


def test_index_stats_count_live_rows_only(spark):
    """lsh_index_stats / ivf_index_stats: merge-on-read tombstones are
    excluded (stats describe what probes actually see), and totals drop
    by exactly the deleted docs' contribution."""
    from pyspark.sql import functions as F

    from lsh_spark.operators.ann import (
        build_ivf_index,
        delete_from_ivf_index,
        ivf_index_stats,
    )
    from lsh_spark.operators.similarity_join import (
        build_lsh_corpus_index,
        delete_from_lsh_index,
        lsh_index_stats,
    )
    from lsh_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").limit(60)
    corpus = docs.selectExpr("doc_id AS corpus_id", "text")
    for sfx in ("bands", "sets", "meta", "deletes"):
        spark.sql(f"DROP TABLE IF EXISTS statidx_{sfx}")
    build_lsh_corpus_index(corpus, "statidx", text_col="text",
                           id_col="corpus_id", ngram_width=3,
                           band_count=4, band_size=2, seed=123,
                           num_buckets=4)
    before = lsh_index_stats(spark, "statidx").agg(
        F.sum("n_rows")).first()[0]
    victims = spark.createDataFrame([(0,), (2,)], ["corpus_id"])
    delete_from_lsh_index(victims, "statidx", id_col="corpus_id")
    after = lsh_index_stats(spark, "statidx").agg(
        F.sum("n_rows")).first()[0]
    # each live doc contributes band_count band rows
    assert before - after == 2 * 4

    emb = load_table(spark, sf, "embeddings").limit(50)
    for sfx in ("", "_centroids", "_meta", "_deletes"):
        spark.sql(f"DROP TABLE IF EXISTS statsivf{sfx}")
    build_ivf_index(emb, "statsivf", vec_col="embedding",
                    id_col="vec_id", n_lists=4, n_iters=2,
                    num_buckets=4)
    b = ivf_index_stats(spark, "statsivf").agg(
        F.sum("n_vectors")).first()[0]
    delete_from_ivf_index(spark.createDataFrame([(1,), (3,), (5,)],
                                                ["vec_id"]),
                          "statsivf", id_col="vec_id")
    a = ivf_index_stats(spark, "statsivf").agg(
        F.sum("n_vectors")).first()[0]
    assert b - a == 3


def test_cc_non_convergence_warns(spark):
    """A path graph with diameter >> max_iter must NOT silently return
    split components: min_label_components warns (round-6 verdict
    item 3), and a sufficient budget converges the same graph to ONE
    component with no warning."""
    import warnings as _warnings

    import pytest

    from lsh_spark.operators.cc import (
        CCNonConvergenceWarning,
        min_label_components,
    )

    n = 40  # chain 0-1-2-...-39 via bucket i = {i, i+1}
    rows = [(i, b, b) for b in range(n - 1) for i in (b, b + 1)]
    blocks = spark.createDataFrame(rows, "__id long, band_idx int, band_hash long")

    with pytest.warns(CCNonConvergenceWarning, match="no fixed point"):
        split = min_label_components(blocks, max_iter=4)
    # the warning is honest: the labels really are split
    assert split.select("__label").distinct().count() > 1

    with _warnings.catch_warnings():
        _warnings.simplefilter("error", CCNonConvergenceWarning)
        labels = min_label_components(blocks, max_iter=n)
    got = {r["__label"] for r in labels.collect()}
    assert got == {0}


def test_sq8_topk_recall_vs_exact(spark):
    """8-bit scalar quantization barely moves cosine ranks on real
    embeddings: top-10 recall vs the exact scan stays high, and
    dequantized sims stay within the quantization error envelope."""
    from lsh_spark.operators import ann
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = ann.cosine_topk(emb, queries, k=10).collect()
    quant = ann.sq8_topk(emb, queries, dim=64, k=10).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    quant_set = {(r.query_id, r.neighbor_id) for r in quant}
    recall = len(exact_set & quant_set) / len(exact_set)
    assert recall >= 0.9, f"SQ8 recall too low: {recall}"
    exact_sims = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact}
    for r in quant:
        key = (r.query_id, r.neighbor_id)
        if key in exact_sims:
            assert abs(r.cosine_sim - exact_sims[key]) < 0.01


def test_lang_id_discriminates_planted_languages(spark):
    """Char-trigram profiles separate corpora with distinct character
    distributions: every doc of three synthetic 'languages' (disjoint
    alphabets, varied per-doc content) is predicted correctly."""
    from lsh_spark.operators.langid import char_ngram_lang_id

    def mk(lang, alphabet, i):
        words = ["".join(alphabet[(i * 7 + j * 3 + k) % len(alphabet)]
                         for k in range(3 + (i + j) % 4))
                 for j in range(12)]
        return (1000 * (ord(lang[0])) + i, " ".join(words), lang)

    rows = [mk(lang, alph, i)
            for lang, alph in (("aa", "abcdef"), ("bb", "mnopqr"),
                               ("cc", "uvwxyz"))
            for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = char_ngram_lang_id(docs, profile_size=50).collect()
    assert len(out) == 60
    assert all(r.is_match for r in out), [
        (r.doc_id, r.lang, r.predicted_lang) for r in out
        if not r.is_match][:5]
    # unscorable short docs come back with NULL prediction, score 0
    tiny = spark.createDataFrame(
        [(1, "ab", "aa")], "doc_id long, text string, lang string")
    r = char_ngram_lang_id(tiny).collect()[0]
    assert r.predicted_lang is None and r.score == 0


def test_ivf_sq8_index_lifecycle(spark):
    """The quantized (storage='sq8') IVF index through its whole
    lifecycle: build stores int8 codes + frozen bounds; search equals a
    manual dequantized replay; extend quantizes deltas against the
    FROZEN bounds (clamping out-of-range values); delete tombstones;
    compact folds them out with codes riding along."""
    from lsh_spark.operators.ann import (
        build_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        extend_ivf_index,
        search_ivf_index,
        sq8_topk,
    )
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    name = "sq8life"
    build_ivf_index(emb, name, n_lists=8, n_iters=2, storage="sq8",
                    dim=64)
    # stored payload is int8 codes, not floats
    tbl = spark.table(name)
    assert "codes" in tbl.columns and "vec" not in tbl.columns
    assert dict(tbl.dtypes)["codes"] == "array<smallint>"
    codes = tbl.agg(F.min(F.array_min("codes")),
                    F.max(F.array_max("codes"))).first()
    assert codes[0] >= 0 and codes[1] <= 255
    assert spark.catalog.tableExists(f"{name}_bounds")

    queries = emb.where(F.col("vec_id") < 5)
    got = {(r.query_id, r.rank): r for r in
           search_ivf_index(spark, name, queries, k=5, n_probe=8).collect()}
    # n_probe = n_lists probes EVERY cell -> results must equal the
    # flat SQ8 scan (same dequantized corpus, same rerank)
    want = {(r.query_id, r.rank): r for r in
            sq8_topk(emb, queries, dim=64, k=5).collect()}
    assert set(got) == set(want)
    for k_ in got:
        assert got[k_].neighbor_id == want[k_].neighbor_id
        assert got[k_].cosine_sim == want[k_].cosine_sim

    # extend with an in-bounds near-copy of vec 3 and an OUT-OF-RANGE
    # vector (10x bounds): both quantize against the frozen bounds,
    # the second clamping to the code edges instead of overflowing
    delta = emb.where(F.col("vec_id") == 3).select(
        F.lit(90001).alias("vec_id"), "embedding",
        F.lit(0).alias("label")).unionByName(
        emb.where(F.col("vec_id") == 3).select(
            F.lit(90002).alias("vec_id"),
            F.transform("embedding",
                        lambda x: x * F.lit(10.0)).alias("embedding"),
            F.lit(0).alias("label")))
    extend_ivf_index(delta, name)
    lim = spark.table(name).agg(F.min(F.array_min("codes")),
                                F.max(F.array_max("codes"))).first()
    assert lim[0] >= 0 and lim[1] <= 255
    hits = search_ivf_index(
        spark, name, emb.where(F.col("vec_id") == 3), k=3,
        n_probe=8).collect()
    assert 90001 in {r.neighbor_id for r in hits}  # near-copy found

    delete_from_ivf_index(
        spark.range(1).select(F.lit(90001).alias("vec_id")), name)
    after = {r.neighbor_id for r in search_ivf_index(
        spark, name, emb.where(F.col("vec_id") == 3), k=3,
        n_probe=8).collect()}
    assert 90001 not in after

    compact_ivf_index(spark, name)
    assert dict(spark.table(
        spark.table(f"{name}_meta").agg(
            F.max("version")).first() and f"{name}_v1").dtypes
        )["codes"] == "array<smallint>"
    final = {r.neighbor_id for r in search_ivf_index(
        spark, name, emb.where(F.col("vec_id") == 3), k=3,
        n_probe=8).collect()}
    assert final == after


def test_url_host_extraction_edges(spark):
    """Host extraction handles real-world shapes: trailing punctuation,
    paths/queries, mixed-case hosts (lowercased), multiple URLs per
    doc, and URL-free text; blocklist matching is case-insensitive via
    the lowered hosts."""
    from lsh_spark.functions.urls import domain_stats, flag_blocked_docs

    docs = spark.createDataFrame(
        [(1, "see https://EXAMPLE.com/Path?q=1 and http://sub.dom.org."),
         (2, "bare text, no links"),
         (3, "dup http://example.com/a http://example.com/b"),
         (4, "tricky (https://x.y.z/p), end")],
        "doc_id long, text string")
    stats = {r.domain: r for r in domain_stats(
        docs, blocklist=("EXAMPLE.COM",)).collect()}
    assert stats["example.com"].n_docs == 2          # docs 1 and 3
    assert stats["example.com"].n_urls == 3
    assert stats["example.com"].blocked
    # host stops at the first char outside [A-Za-z0-9.-]: the trailing
    # sentence dot is ambiguous by design and stays documented behavior
    assert "sub.dom.org." in stats or "sub.dom.org" in stats
    assert stats["x.y.z"].n_docs == 1 and not stats["x.y.z"].blocked

    flags = {r.doc_id: r for r in flag_blocked_docs(
        docs, blocklist=("example.com",)).collect()}
    assert flags[2].n_urls == 0 and flags[2].keep
    assert flags[3].n_blocked_urls == 2 and not flags[3].keep
    assert flags[4].n_blocked_urls == 0 and flags[4].keep


def test_dedup_exact_planted_duplicates(spark, tmp_path):
    """dedup_exact semantics under the digest pre-group plan: planted
    exact duplicates resolve to (min doc_id, copy count); uniques and
    near-misses (differing by one char — distinct digests OR digest
    collisions caught by the text verify) never appear."""
    import os

    from lsh_spark.operators.lsh_queries import dedup_exact

    rows = [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma"),
            (5, "beta"), (6, "beta"), (7, "alphA"), (8, None), (9, None)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        os.path.join(str(tmp_path), "documents.parquet"))
    got = sorted((r.canonical_id, r.n_copies)
                 for r in dedup_exact(spark, str(tmp_path)).collect())
    # NULL texts group together under both engines' GROUP BY semantics
    assert got == [(1, 2), (2, 3), (8, 2)], got


def test_flag_blocked_docs_null_text_concrete(spark):
    """NULL text must yield concrete (0, 0, keep=true) — never NULL
    flags that a keep-based filter silently neither keeps nor drops."""
    from lsh_spark.functions.urls import flag_blocked_docs

    docs = spark.createDataFrame(
        [(1, None), (2, "see https://bad.example.org/x"), (3, "no urls")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in flag_blocked_docs(
        docs, blocklist=("bad.example.org",)).collect()}
    assert (rows[1].n_urls, rows[1].n_blocked_urls, rows[1].keep) == (0, 0, True)
    assert rows[2].keep is False and rows[2].n_blocked_urls == 1
    assert rows[3].keep is True and rows[3].n_urls == 0
    # and with an EMPTY blocklist too (the other code path)
    rows0 = {r.doc_id: r for r in flag_blocked_docs(docs).collect()}
    assert (rows0[1].n_urls, rows0[1].keep) == (0, True)


def test_cc_one_round_budget_warns(spark):
    """max_iter <= 1 leaves no round to measure the fixed point — that
    is an UNMEASURED run, not a converged one, and must warn."""
    import pytest

    from lsh_spark.operators.cc import (
        CCNonConvergenceWarning,
        min_label_components,
    )

    rows = [(i, b, b) for b in range(3) for i in (b, b + 1)]
    blocks = spark.createDataFrame(
        rows, "__id long, band_idx int, band_hash long")
    with pytest.warns(CCNonConvergenceWarning, match="no round"):
        min_label_components(blocks, max_iter=1)


def test_bm25_single_term_ranks_by_tf_over_equal_lengths(spark):
    """BM25 sanity on a controlled corpus: for a single-term query over
    equal-length docs, ranking must follow term frequency; docs without
    the term never appear; ties break on doc_id."""
    from lsh_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "apple pear plum grape"), (2, "apple apple plum grape"),
         (3, "apple apple apple pear"), (4, "pear plum grape kiwi")],
        "doc_id long, text string")
    queries = spark.createDataFrame([(0, "apple")],
                                    "query_id long, query_text string")
    got = bm25_topk(docs, queries, k=10).orderBy("rank").collect()
    assert [r.doc_id for r in got] == [3, 2, 1]
    assert got[0].score > got[1].score > got[2].score > 0


def test_bm25_multi_term_fold_is_sum_of_contributions(spark):
    """Two single-term queries and their two-term union: the union's
    score per doc equals the sum of the parts (fold correctness), up to
    the terminal 6-dp round."""
    from lsh_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "red blue green"), (2, "red red yellow"), (3, "blue blue")],
        "doc_id long, text string")
    qs = spark.createDataFrame(
        [(0, "red"), (1, "blue"), (2, "red blue")],
        "query_id long, query_text string")
    rows = bm25_topk(docs, qs, k=10).collect()
    by = {(r.query_id, r.doc_id): r.score for r in rows}
    assert abs(by[(2, 1)] - (by[(0, 1)] + by[(1, 1)])) < 2e-6
    assert (2, 3) in by and (0, 3) not in by  # doc3 matches only 'blue'


def test_mixture_sample_weight_endpoints_and_determinism(spark):
    """weight 0 drops the source entirely, weight 1 keeps it whole,
    fractional weights keep a doc iff its md5 bucket clears the limit;
    re-running yields the identical set (no RNG)."""
    from lsh_spark.operators.training_ops import mixture_sample_df

    rows = [(i, f"t{i}", ("a", "b", "c")[i % 3]) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = mixture_sample_df(docs, {"a": 0.0, "b": 1.0, "c": 0.5})
    got = {(r.doc_id, r.source) for r in kept.collect()}
    assert not any(s == "a" for _i, s in got)
    assert sum(1 for _i, s in got if s == "b") == 100
    n_c = sum(1 for _i, s in got if s == "c")
    assert 20 < n_c < 80  # ~50 of 100 at weight 0.5
    again = {(r.doc_id, r.source)
             for r in mixture_sample_df(
                 docs, {"a": 0.0, "b": 1.0, "c": 0.5}).collect()}
    assert got == again


def test_duplicate_substring_spans_planted(spark):
    """A 80-char block planted verbatim in three docs (aligned to the
    stride in two, shifted in one) is detected; unique docs produce no
    rows; the canonical occurrence is the lowest (doc_id, pos)."""
    import string

    from lsh_spark.operators.dedup import duplicate_substring_spans_df

    block = (string.ascii_letters + string.digits + "==") * 2  # 128 chars
    uniq = "".join(chr(97 + (i * 7) % 26) for i in range(200))
    docs = spark.createDataFrame(
        [(1, block + uniq), (2, uniq[::-1] + "x" * 31 + block),
         (3, "y" * 64 + block), (4, uniq + "zz")],
        "doc_id long, text string")
    got = duplicate_substring_spans_df(docs, window=64, stride=16).collect()
    assert got, "planted duplicate block not detected"
    # every reported span is canonical in doc 1 (lowest id containing it)
    assert all(r.doc_id == 1 for r in got), got
    assert all(r.n_docs >= 2 for r in got)


def test_text_index_lifecycle(spark):
    """build → indexed search equals the on-the-fly bm25_topk;
    tombstoned docs vanish AND surviving scores equal a from-scratch
    index over the survivors (the merge-on-read stats correction is
    exact integer arithmetic); attach re-registers from files; stats
    count live rows."""
    import uuid

    from lsh_spark.operators.retrieval import (
        attach_text_index,
        bm25_search_indexed,
        bm25_topk,
        build_text_index,
        delete_from_text_index,
        extend_text_index,
        text_index_stats,
    )

    rows = [(i, " ".join(
        ["alpha"] * (1 + i % 3) + ["beta"] * (i % 2) + [f"w{i % 5}", "tail"]))
        for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = spark.createDataFrame([(0, "alpha beta"), (1, "w3 tail")],
                                    "query_id long, query_text string")
    name = f"txtidx_{uuid.uuid4().hex[:8]}"
    try:
        build_text_index(docs, name, num_buckets=4)
        direct = sorted(map(tuple, bm25_topk(docs, queries, k=5).collect()))
        viaidx = sorted(map(tuple,
                            bm25_search_indexed(spark, name, queries,
                                                k=5).collect()))
        assert direct == viaidx

        st = text_index_stats(spark, name).first()
        assert st.n_docs == 40 and st.total_tokens > 0

        delete_from_text_index(
            spark.createDataFrame([(0,), (1,)], ["doc_id"]), name)
        surv = docs.where(F.col("doc_id") >= 2)
        after = sorted(map(tuple,
                           bm25_search_indexed(spark, name, queries,
                                               k=5).collect()))
        fresh = sorted(map(tuple, bm25_topk(surv, queries, k=5).collect()))
        assert after == fresh
        assert not any(t[1] in (0, 1) for t in after)
        assert text_index_stats(spark, name).first().n_docs == 38

        # "new session": copy the table dirs to a fresh location root and
        # attach under a new index name (the attach_lsh test pattern —
        # managed-table DROP would delete the files)
        import os
        import shutil
        import tempfile

        from lsh_spark.sources.formats import _warehouse_path

        wh = _warehouse_path(spark)
        tmp = tempfile.mkdtemp()
        name2 = f"{name}b"
        for sfx in ("_postings", "_doclen", "_stats", "_meta", "_deletes"):
            shutil.copytree(os.path.join(wh, f"{name}{sfx}"),
                            os.path.join(tmp, f"{name2}{sfx}"))
        attach_text_index(spark, name2, location_root=tmp)
        again = sorted(map(tuple,
                           bm25_search_indexed(spark, name2, queries,
                                               k=5).collect()))
        assert again == fresh  # tombstones re-attached too
        # the attached copy keeps build's bucket spec: extend appends
        extra = spark.createDataFrame([(40, "alpha beta w3 tail")],
                                      "doc_id long, text string")
        extend_text_index(extra, name2)
        grown = sorted(map(tuple,
                           bm25_search_indexed(spark, name2, queries,
                                               k=5).collect()))
        assert grown == sorted(map(tuple, bm25_topk(
            surv.unionByName(extra), queries, k=5).collect()))
    finally:
        from lsh_spark.sources.formats import drop_table_and_files

        for nm in (name, f"{name}b"):
            for sfx in ("_postings", "_doclen", "_stats", "_meta",
                        "_deletes"):
                drop_table_and_files(spark, f"{nm}{sfx}")


def test_text_index_extend_matches_rebuild(spark):
    """extend_text_index: searches after an incremental append equal a
    from-scratch index over the union (append-only stats deltas sum to
    the union's integer statistics), and extend composes with
    tombstones."""
    import uuid

    from lsh_spark.operators.retrieval import (
        bm25_search_indexed,
        bm25_topk,
        build_text_index,
        delete_from_text_index,
        extend_text_index,
    )

    base = spark.createDataFrame(
        [(i, f"alpha beta w{i % 4} tail") for i in range(20)],
        "doc_id long, text string")
    more = spark.createDataFrame(
        [(i, f"alpha gamma w{i % 4} tail") for i in range(20, 30)],
        "doc_id long, text string")
    queries = spark.createDataFrame([(0, "alpha gamma"), (1, "beta w3")],
                                    "query_id long, query_text string")
    name = f"txtext_{uuid.uuid4().hex[:8]}"
    try:
        build_text_index(base, name, num_buckets=4)
        extend_text_index(more, name)
        got = sorted(map(tuple,
                         bm25_search_indexed(spark, name, queries,
                                             k=8).collect()))
        want = sorted(map(tuple,
                          bm25_topk(base.unionByName(more), queries,
                                    k=8).collect()))
        assert got == want
        delete_from_text_index(
            spark.createDataFrame([(25,), (3,)], ["doc_id"]), name)
        surv = base.unionByName(more).where(~F.col("doc_id").isin(25, 3))
        after = sorted(map(tuple,
                           bm25_search_indexed(spark, name, queries,
                                               k=8).collect()))
        fresh = sorted(map(tuple, bm25_topk(surv, queries, k=8).collect()))
        assert after == fresh
    finally:
        from lsh_spark.sources.formats import drop_table_and_files

        for sfx in ("_postings", "_doclen", "_stats", "_meta", "_deletes"):
            drop_table_and_files(spark, f"{name}{sfx}")


def test_text_index_extend_skips_already_indexed_ids(spark):
    """extend_text_index with a batch that re-names ids the index
    already carries must NOT double-count them (postings, doclen, or
    the append-only stats deltas): the anti-join against the indexed
    doclen ids keeps the FIRST indexed copy and results equal a
    from-scratch index over base ∪ (genuinely new docs) — the silent
    stats drift a 100 TB index would otherwise discover months later
    (mirrors the LSH/IVF extend pins)."""
    import uuid

    from lsh_spark.operators.retrieval import (
        bm25_search_indexed,
        bm25_topk,
        build_text_index,
        extend_text_index,
        text_index_stats,
    )

    base = spark.createDataFrame(
        [(i, f"alpha beta w{i % 4} tail") for i in range(20)],
        "doc_id long, text string")
    # 5-9 overlap ids already indexed (with DIFFERENT text — the indexed
    # copy must win); 20-24 are genuinely new
    overlap_and_new = spark.createDataFrame(
        [(i, "alpha gamma CHANGED") for i in range(5, 10)]
        + [(i, f"alpha gamma w{i % 4} tail") for i in range(20, 25)],
        "doc_id long, text string")
    queries = spark.createDataFrame([(0, "alpha gamma"), (1, "beta w3")],
                                    "query_id long, query_text string")
    name = f"txtre_{uuid.uuid4().hex[:8]}"
    try:
        build_text_index(base, name, num_buckets=4)
        extend_text_index(overlap_and_new, name)
        union_dedup = base.unionByName(
            overlap_and_new.where(F.col("doc_id") >= 20))
        got = sorted(map(tuple,
                         bm25_search_indexed(spark, name, queries,
                                             k=8).collect()))
        want = sorted(map(tuple,
                          bm25_topk(union_dedup, queries, k=8).collect()))
        assert got == want
        st = text_index_stats(spark, name).first()
        assert st.n_docs == 25  # 20 base + 5 new, overlap NOT re-counted
    finally:
        from lsh_spark.sources.formats import drop_table_and_files

        for sfx in ("_postings", "_doclen", "_stats", "_meta", "_deletes"):
            drop_table_and_files(spark, f"{name}{sfx}")


def test_text_index_compaction(spark):
    """compact_text_index folds tombstones out into generation 1 (one
    appended meta row is the swap), truncates _deletes, collapses the
    stats deltas, and probe results are unchanged — equal to a rebuild
    over the survivors."""
    import uuid

    from lsh_spark.operators.retrieval import (
        bm25_search_indexed,
        bm25_topk,
        build_text_index,
        compact_text_index,
        delete_from_text_index,
        extend_text_index,
        text_index_stats,
    )

    base = spark.createDataFrame(
        [(i, f"alpha beta w{i % 4} tail") for i in range(20)],
        "doc_id long, text string")
    more = spark.createDataFrame(
        [(i, f"alpha gamma w{i % 4} tail") for i in range(20, 30)],
        "doc_id long, text string")
    queries = spark.createDataFrame([(0, "alpha gamma w2")],
                                    "query_id long, query_text string")
    name = f"txtcmp_{uuid.uuid4().hex[:8]}"
    try:
        build_text_index(base, name, num_buckets=4)
        extend_text_index(more, name)
        delete_from_text_index(
            spark.createDataFrame([(5,), (22,)], ["doc_id"]), name)
        before = sorted(map(tuple,
                            bm25_search_indexed(spark, name, queries,
                                                k=8).collect()))
        compact_text_index(spark, name)
        after = sorted(map(tuple,
                           bm25_search_indexed(spark, name, queries,
                                               k=8).collect()))
        surv = base.unionByName(more).where(~F.col("doc_id").isin(5, 22))
        fresh = sorted(map(tuple, bm25_topk(surv, queries, k=8).collect()))
        assert before == after == fresh
        # generation flipped, deletes truncated, stats collapsed + live
        assert spark.catalog.tableExists(f"{name}_postings_v1")
        assert not spark.catalog.tableExists(f"{name}_deletes")
        assert text_index_stats(spark, name).first().n_docs == 28
        # the compacted generation keeps build's bucket spec, so an
        # extend can append into it
        extra = spark.createDataFrame(
            [(i, f"alpha gamma w{i % 4} tail") for i in range(30, 34)],
            "doc_id long, text string")
        extend_text_index(extra, name)
        grown = sorted(map(tuple,
                           bm25_search_indexed(spark, name, queries,
                                               k=8).collect()))
        assert grown == sorted(map(tuple, bm25_topk(
            surv.unionByName(extra), queries, k=8).collect()))
    finally:
        from lsh_spark.sources.formats import drop_table_and_files

        for sfx in ("_postings", "_doclen", "_stats", "_meta", "_deletes"):
            for v in ("", "_v1", "_v2"):
                drop_table_and_files(spark, f"{name}{sfx}{v}")


def test_hybrid_rrf_fuses_both_channels(spark):
    """RRF sanity on a controlled corpus: a doc that is strong in BOTH
    channels outranks docs strong in only one; single-channel docs
    still surface with the other channel contributing 0."""
    from lsh_spark.operators.retrieval import hybrid_topk_rrf

    # doc 1: lexical+vector match; doc 2: lexical only; doc 3: vector only
    docs = spark.createDataFrame(
        [(0, "apple banana"), (1, "apple banana"), (2, "apple banana"),
         (3, "kiwi plum")],
        "doc_id long, text string")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [-1.0, 0.2]),
         (3, [0.95, 0.05])],
        "vec_id long, embedding array<double>")
    qt = docs.where(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text"))
    qv = emb.where(F.col("vec_id") == 0)
    got = {r.doc_id: r for r in hybrid_topk_rrf(
        docs, emb, qt, qv, k=4, channel_k=3).collect()}
    assert got[1].rank == 1  # both channels
    assert 2 in got and 3 in got  # single-channel docs surface
    assert got[1].rrf_score > got[2].rrf_score
    assert got[1].rrf_score > got[3].rrf_score
    assert 0 not in got  # self excluded in both channels


def test_hybrid_indexed_full_probe_matches_on_the_fly(spark):
    """hybrid_search_indexed over the persisted text + IVF indexes with
    n_probe = n_lists (every cell probed → the vector channel IS the
    exact scan) equals hybrid_topk_rrf bit-for-bit at the same params —
    the standing-deployment fusion is pinned against the audited
    on-the-fly form.  Vector components are float32-exact so the
    index's float32 storage is lossless."""
    import uuid

    from lsh_spark.operators.ann import build_ivf_index
    from lsh_spark.operators.retrieval import (
        build_text_index,
        hybrid_search_indexed,
        hybrid_topk_rrf,
    )

    docs = spark.createDataFrame(
        [(i, f"apple banana w{i % 3} tail") for i in range(12)]
        + [(i, f"kiwi plum w{i % 3}") for i in range(12, 16)],
        "doc_id long, text string")
    emb = spark.createDataFrame(
        [(i, [0.5 + 0.25 * (i % 4), 1.0 - 0.125 * (i % 5), 0.25 * (i % 3)])
         for i in range(16)],
        "vec_id long, embedding array<double>")
    qt = docs.where(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text"))
    qv = emb.where(F.col("vec_id") < 2)
    tname = f"hybtxt_{uuid.uuid4().hex[:8]}"
    vname = f"hybivf_{uuid.uuid4().hex[:8]}"
    try:
        build_text_index(docs, tname, num_buckets=4)
        build_ivf_index(emb, vname, n_lists=4, num_buckets=4)
        got = sorted(map(tuple, hybrid_search_indexed(
            spark, tname, vname, qt, qv, k=6, channel_k=5,
            n_probe=4).collect()))
        want = sorted(map(tuple, hybrid_topk_rrf(
            docs, emb, qt, qv, k=6, channel_k=5).collect()))
        assert got == want
    finally:
        from lsh_spark.sources.formats import drop_table_and_files

        for sfx in ("_postings", "_doclen", "_stats", "_meta", "_deletes"):
            drop_table_and_files(spark, f"{tname}{sfx}")
        for sfx in ("", "_centroids", "_meta", "_bounds", "_deletes"):
            drop_table_and_files(spark, f"{vname}{sfx}")


def test_phrase_search_semantics(spark):
    """Anchor-vote phrase matching: overlapping occurrences all count
    ("a a a" contains "a a" twice), repeated-term phrases match only
    true contiguous runs, sub-phrase scatter (terms present but not
    adjacent) does NOT match, and first_pos is the earliest anchor."""
    from lsh_spark.operators.retrieval import phrase_search

    docs = spark.createDataFrame(
        [(0, "x a a a y"),       # "a a" twice (overlap), anchors 1,2
         (1, "a b a b"),          # "a b" twice, non-overlapping
         (2, "b a x a b"),        # scattered: "a b" only at anchor 3
         (3, "b b x")],           # no "a" at all
        "doc_id long, text string")
    qs = spark.createDataFrame(
        [(0, "a a"), (1, "a b")], "query_id long, phrase string")
    got = {(r.query_id, r.doc_id): (r.n_occurrences, r.first_pos)
           for r in phrase_search(docs, qs).collect()}
    assert got == {
        (0, 0): (2, 1),   # overlapping "a a" at positions 1 and 2
        (1, 1): (2, 0),   # "a b" at 0 and 2
        (1, 2): (1, 3),   # only the adjacent pair counts
    }


def test_snapshot_diff_statuses(spark):
    """snapshot_diff: all four statuses over a controlled pair of
    snapshots; NULL payloads compare as equal-to-NULL, not as changed;
    multi-column digests detect a change in EITHER column."""
    from lsh_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, None, "z"), (4, "gone", "w")],
        "id long, t string, u string")
    new = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "CHANGED"), (3, None, "z"), (5, "new", "v")],
        "id long, t string, u string")
    got = {r.id: r.status for r in
           snapshot_diff(old, new, key="id").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "unchanged",
                   4: "removed", 5: "added"}
