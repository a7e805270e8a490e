"""Physical-plan quality assertions — the 100 TB design checks.

Each test inspects ``explain(formatted)`` / the executed plan to assert the
properties that matter at scale: predicate pushdown into the parquet scan,
column pruning, broadcast joins for dimensions, whole-stage codegen around
JVM-side expressions, and no Python UDF in queries that don't need one.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _plan(df) -> str:
    try:
        return _formatted_plan(df)
    except Exception:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def test_q1_filter_pushdown_and_pruning(spark):
    from lsh_spark.operators.relational import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, SF_DIR))
    # the shipdate predicate must reach the parquet scan
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: unused columns (e.g. l_partkey, l_suppkey) must not
    # be read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read_schema
    assert "l_suppkey" not in read_schema
    assert "l_extendedprice" in read_schema


def test_q1_stays_in_codegen(spark):
    from lsh_spark.operators.relational import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, SF_DIR))
    # map-side combine: a partial-aggregation stage must exist (it always
    # precedes the exchange in Spark's agg planning)
    assert "partial_sum" in plan
    # the whole query is JVM expressions — no Python evaluation nodes
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_q5_broadcasts_dimensions(spark):
    from lsh_spark.operators.relational import q5_region_revenue

    plan = _plan(q5_region_revenue(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4  # cust, supp, nation, region
    # the only sort-merge-or-shuffle join allowed is lineitem ⨝ orders
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_q3_customer_filter_pushed(spark):
    from lsh_spark.operators.relational import q3_shipping_priority

    plan = _plan(q3_shipping_priority(spark, SF_DIR))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("c_mktsegment" in l for l in pushed)
    assert any("o_orderdate" in l for l in pushed)


def test_text_stats_has_no_python(spark):
    from lsh_spark.operators.pipeline_queries import text_stats

    plan = _plan(text_stats(spark, SF_DIR))
    assert "EvalPython" not in plan  # all JVM-side expressions


def test_ann_topk_broadcasts_queries(spark):
    from lsh_spark.operators.pipeline_queries import ann_topk

    plan = _plan(ann_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan  # queries broadcast, corpus stays put


def test_minhash_signatures_is_single_arrow_pass(spark):
    from lsh_spark.operators.lsh_queries import minhash_signatures

    import re

    plan = _plan(minhash_signatures(spark, SF_DIR))
    # exactly one ArrowEvalPython node in the plan tree
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1
    assert "Exchange" not in plan  # no shuffle for a pure projection


def test_similarity_join_shuffles_ids_not_text(spark):
    from lsh_spark.operators.similarity_join import lsh_self_dedup_pairs
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = lsh_self_dedup_pairs(docs, "text", id_col="doc_id", ngram_width=3,
                              band_count=8, band_size=2, seed=123,
                              threshold=0.6)
    plan = _plan(df)
    # the band-blocking exchange must carry only id + band columns, never
    # the text or shingle-set payload
    for line in plan.splitlines():
        if "Exchange hashpartitioning(band_idx" in line:
            assert "text" not in line and "__set" not in line


def test_udfs_are_deterministic_for_catalyst(spark):
    # deterministic UDFs let Catalyst collapse/reorder (SURVEY.md §4);
    # asNondeterministic is never applied
    from lsh_spark.functions.lsh import lsh_min

    df = spark.createDataFrame([("ab",)], ["t"])
    col_df = df.select(lsh_min("t", 2, 1, 1, 1).alias("h"))
    plan = col_df._jdf.queryExecution().analyzed().toString()
    assert "nondeterministic" not in plan.lower()


def test_sessionize_single_user_shuffle(spark):
    from lsh_spark.operators.relational import events_sessionize

    plan = _plan(events_sessionize(spark, SF_DIR))
    # both windows and the final group-by hash on user_id → one exchange
    # feeds windows; the rollup may add one more; never 3+
    assert plan.count("Exchange hashpartitioning") <= 2


def test_dedup_exact_digest_pregroup(spark):
    """dedup_exact's wide exchange keys on the xxhash64 digest; raw text
    is only ever a grouping key WITH the digest (the candidate-only
    verify aggregate), and the dup-digest filter joins broadcast."""
    from lsh_spark.operators.lsh_queries import dedup_exact

    plan = _plan(dedup_exact(spark, SF_DIR))
    assert "partial_min" in plan or "partial_count" in plan  # map-side combine
    assert "EvalPython" not in plan
    assert "xxhash64" in plan
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "text" in line:
            assert "__dig" in line, line


def test_ivf_centroid_side_broadcast(spark):
    from lsh_spark.operators.pipeline_queries import ann_ivf_topk

    plan = _plan(ann_ivf_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_verification_is_single_python_pass(spark):
    """Regression guard for the double-eval bug: Catalyst predicate
    pushdown used to substitute the jaccard UDF into the threshold filter,
    evaluating verification twice per pair.  The mapInArrow verify must
    appear exactly once, with no ArrowEvalPython jaccard twin."""
    import re

    from lsh_spark.operators.similarity_join import lsh_self_dedup_pairs
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = lsh_self_dedup_pairs(docs, "text", id_col="doc_id", ngram_width=3,
                              band_count=8, band_size=2, seed=123,
                              threshold=0.6)
    plan = _plan(df)
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1


def test_plan_construction_runs_no_jobs(spark):
    """Building a query plan must never run Spark jobs: a driver-side
    count()/collect() during plan construction is an extra full pass over
    the fact table at scale.  (The r2 offenders: tfidf's n_docs count and
    event_type_distribution's total count — both now live inside the job.)
    MLlib ivf_topk is excluded: .fit() IS its train stage."""
    from lsh_spark.operators.pipeline_queries import tfidf_top_terms
    from lsh_spark.operators.relational import event_type_distribution

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    for build in (tfidf_top_terms, event_type_distribution):
        build(spark, SF_DIR)  # warm parquet footer/schema-inference reads
        sc.setJobGroup("plan-build-check", build.__name__)
        try:
            build(spark, SF_DIR)  # construct only — no action
        finally:
            sc.setJobGroup(None, None)
        ran = tracker.getJobIdsForGroup("plan-build-check") or []
        assert ran == [], f"{build.__name__} ran jobs at plan time: {ran}"


def test_set_reattach_is_size_gated(spark):
    """Under the broadcast cap the verification consumes BARE id pairs
    (broadcast-kernel path — no attach joins at all); past the cap it
    falls back to re-attaching sets with shuffle-hash-hinted joins (the
    100 TB shape: hash-build on the sets side instead of sort-merge
    sorting the far larger pair stream).  The gate estimate comes from
    one agg over the cached sets, never an unconditional broadcast."""
    from lsh_spark.operators import similarity_join as sj
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")

    def query():
        return sj.lsh_self_dedup_pairs(
            docs, "text", id_col="doc_id", ngram_width=3, band_count=4,
            band_size=3, seed=123, threshold=0.6)

    # sf0.001 sets are ~100 KB -> under the cap -> kernel path: the only
    # join in the plan is the band-blocking join, sets never re-attach
    plan = _plan(query())
    assert "MapInArrow" in plan
    assert "__set_a" not in plan and "__set_b" not in plan

    # shrink the cap below any real corpus -> attach path with
    # shuffle-hash hints
    old = sj._AUTO_BROADCAST_CAP_BYTES
    sj._AUTO_BROADCAST_CAP_BYTES = 1
    try:
        analyzed = query()._jdf.queryExecution().analyzed().toString()
        assert "broadcast" not in analyzed.lower()
        assert "shuffle_hash" in analyzed.lower()
        assert "ShuffledHashJoin" in _plan(query())
    finally:
        sj._AUTO_BROADCAST_CAP_BYTES = old


def test_indexed_probe_no_corpus_side_exchange(spark):
    """Probing a persisted LSH index must consume BOTH bucketed tables
    through their buckets: the band join and the set re-attach shuffle
    only the probe/pair side, never the corpus (the amortization that
    makes the persisted-index shape pay off at 100 TB)."""
    import uuid

    from lsh_spark.operators.similarity_join import (
        build_lsh_corpus_index,
        lsh_similarity_join_indexed,
    )
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.where("doc_id >= 250").selectExpr(
        "doc_id AS corpus_id", "text")
    probe = docs.where("doc_id < 250").selectExpr(
        "doc_id AS probe_id", "text")
    name = f"lsh_pidx_{uuid.uuid4().hex[:8]}"
    try:
        build_lsh_corpus_index(
            corpus, name, text_col="text", id_col="corpus_id",
            ngram_width=3, band_count=8, band_size=2, seed=123,
            num_buckets=8)
        # at sf0.001 Catalyst rightly broadcasts the tiny corpus tables;
        # disable broadcast to surface the at-scale plan, where both
        # corpus tables MUST be consumed through their buckets
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = lsh_similarity_join_indexed(
            spark, name, probe, "text", probe_id="probe_id",
            threshold=0.6, broadcast_probe_sets=False)
        got.count()
        plan = got._jdf.queryExecution().executedPlan().toString()
        # both persisted tables read bucketed; a "Bucketed: false" marker
        # would mean the planner fell back to re-shuffling the corpus
        assert plan.count("Bucketed: true") >= 2, plan
        assert "Bucketed: false" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for suffix in ("_bands", "_sets", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}")


def _plan_details(plan: str, node: str) -> list[tuple[str, str]]:
    """(Input, Arguments) lines of every ``node`` detail block of a
    formatted plan."""
    import re

    return re.findall(
        rf"^\(\d+\) {node}(?: \[.*\])?\nInput \[\d+\]: (.*)\nArguments: (.*)$",
        plan, re.M)


def test_set_and_bands_built_in_one_python_pass(spark):
    """Each input side of the self-dedup and the indexed probe runs ONE
    Python UDF, the fused set+band pass inside the sets cache: banding
    is a JVM posexplode of the cached bands column, so neither a second
    band UDF nor an ``InferFiltersFromGenerate`` twin of the fused UDF
    appears.  AQE prints a cached plan's nodes twice (final and initial
    plan), so evaluations are counted as distinct UDF arguments.  The
    band-blocking exchange carries only the id and band columns."""
    import uuid

    from lsh_spark.operators.similarity_join import (
        build_lsh_corpus_index,
        lsh_self_dedup_pairs,
        lsh_similarity_join_indexed,
    )
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    name = f"lsh_fused_{uuid.uuid4().hex[:8]}"
    # surface the band-blocking shuffle join, which sf0.001 would
    # otherwise broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        dedup = lsh_self_dedup_pairs(
            docs, "text", id_col="doc_id", ngram_width=3, band_count=8,
            band_size=2, seed=(123, 456), threshold=0.6)
        build_lsh_corpus_index(
            docs.where("doc_id >= 250"), name, text_col="text",
            id_col="doc_id", ngram_width=3, band_count=8, band_size=2,
            seed=123, num_buckets=8)
        probe = lsh_similarity_join_indexed(
            spark, name, docs.where("doc_id < 250").selectExpr(
                "doc_id AS probe_id", "text"),
            "text", probe_id="probe_id", threshold=0.6)
        for df in (dedup, probe):
            plan = _plan(df)
            udfs = {args for _, args in _plan_details(plan, "ArrowEvalPython")}
            assert len(udfs) == 1, plan
            band_exchanges = [
                cols for cols, args in _plan_details(plan, "Exchange")
                if args.startswith("hashpartitioning(band_idx")]
            assert band_exchanges, plan
            for cols in band_exchanges:
                names = {c.split("#")[0] for c in cols.strip("[]").split(", ")}
                ids = names - {"band_idx", "band_hash"}
                assert len(ids) == 1 and ids <= {"id_a", "id_b", "__lid"}, cols
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for suffix in ("_bands", "_sets", "_meta"):
            spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}")


def test_broadcast_kernel_verify_has_no_attach_joins(spark):
    """Under the broadcast cap the verification stage consumes BARE id
    pairs: exactly one join in the whole plan (the band-blocking
    equi-join) and no shingle-set column downstream of it."""
    from lsh_spark.operators.similarity_join import lsh_self_dedup_pairs
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = lsh_self_dedup_pairs(docs, "text", id_col="doc_id", ngram_width=3,
                              band_count=8, band_size=2, seed=123,
                              threshold=0.6, broadcast_sets=True)
    import re

    plan = _plan(df)
    # formatted explain prints each node twice (tree line + detail
    # header) — count the numbered detail headers only
    n_joins = len(re.findall(
        r"^\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
        plan, re.M))
    assert n_joins == 1, f"expected only the band join, got {n_joins}"
    # the sets never re-attach: the verify stage is a bare-ids Python map
    assert "MapInArrow" in plan


def _single_partition_inputs(plan: str) -> list[str]:
    """The ``Input [..]`` column list of every SinglePartition exchange
    in a formatted plan (detail blocks print Input then Arguments)."""
    last_input = ""
    found = []
    for line in plan.splitlines():
        if line.startswith("Input ["):
            last_input = line
        elif line.startswith("Arguments: SinglePartition"):
            found.append(last_input)
    return found


def test_repetition_stats_map_only_no_hash_shuffle(spark):
    # the Arrow kernel pass is a narrow map stage: scan (+ the fanout
    # round-robin spread of a single-file input) -> mapInPandas ->
    # projection; NO hash/range shuffle anywhere — the map-only property
    # the operator's 100 TB claim rests on
    from lsh_spark.operators.training_ops import repetition_stats

    plan = _plan(repetition_stats(spark, SF_DIR))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "MapInPandas" in plan


def test_dup_ngram_stats_jvm_only_and_digest_keys(spark):
    # span frequency/semi-join runs entirely JVM-side (no Python UDF)
    # and shuffles md5 digests (gh), never the span text (__ng)
    from lsh_spark.operators.training_ops import dup_ngram_stats

    plan = _plan(dup_ngram_stats(spark, SF_DIR))
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "hashpartitioning(gh" in plan
    assert "hashpartitioning(__ng" not in plan


def test_shard_assignment_auto_chunk_no_global_window(spark):
    # the auto-chunked running sum funnels ONLY tiny relations through
    # single-partition exchanges (the min/max bounds rows and the
    # chunk-subtotal table) — never the per-document token stream
    from lsh_spark.operators.training_ops import shard_assignment

    plan = _plan(shard_assignment(spark, SF_DIR))
    singles = _single_partition_inputs(plan)
    assert singles, "expected the chunk-prefix single-partition exchange"
    for inp in singles:
        assert "doc_id" not in inp and "n_tokens" not in inp, inp


def test_q6_filters_pushed_and_no_shuffle_join(spark):
    """q6: every filter reaches the parquet scan; no join at all, one
    partial→final aggregate pair."""
    from lsh_spark.operators.relational import q6_forecast_revenue

    plan = _plan(q6_forecast_revenue(spark, SF_DIR))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any("l_quantity" in l or "l_discount" in l
                          for l in pushed)
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q14_part_side_broadcast(spark):
    """q14: the dimension (part) side must broadcast — a shuffle join on
    the fact table would be the 100 TB mistake."""
    from lsh_spark.operators.relational import q14_promo_revenue

    plan = _plan(q14_promo_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_pii_scrub_is_pure_jvm_map(spark):
    """PII scrub: no Python nodes, no exchange — a per-row JVM map."""
    from lsh_spark.operators.pipeline_queries import pii_scrub_stats

    plan = _plan(pii_scrub_stats(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_line_dedup_shuffles_digests_not_text(spark):
    """line dedup: the winner aggregate's exchange carries md5 digests +
    ids, never line text; partial aggregation combines map-side."""
    from lsh_spark.operators.dedup import dedup_lines_df
    from lsh_spark.sources.io import load_table

    plan = _plan(dedup_lines_df(load_table(spark, SF_DIR, "documents")))
    assert "partial_min" in plan
    # the digest column exists and the exploded line string is projected
    # away before the exchange: no plan stage shuffles a '__line' column
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchange_lines
    assert "__line" not in " ".join(exchange_lines)


def test_cms_counter_probe_broadcasts(spark):
    """CMS: the probe joins the (depth × width)-bounded counter table as
    a broadcast — never a shuffle join against it."""
    from lsh_spark.operators.pipeline_queries import cms_heavy_hitters

    plan = _plan(cms_heavy_hitters(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_chunk_documents_is_pure_narrow_map(spark):
    """Chunking is one in-plan explode + substring: no Exchange, no
    Python UDF — whole-stage-codegen all the way to the scan."""
    from lsh_spark.operators.training_ops import chunk_documents_df
    from lsh_spark.sources.io import load_table

    plan = _plan(chunk_documents_df(load_table(spark, SF_DIR, "documents")))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" in plan  # the explode
    assert "codegen id" in plan


def test_lang_id_profile_joins_broadcast(spark):
    """The scoring join against the per-language profile must be a
    broadcast hash join (the profile is langs x N rows by construction)
    and the argmax result re-attaches to docs without shuffling text."""
    from lsh_spark.operators.langid import char_ngram_lang_id
    from lsh_spark.sources.io import load_table

    plan = _plan(char_ngram_lang_id(load_table(spark, SF_DIR, "documents")))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sq8_topk_single_bounds_pass_and_broadcast(spark):
    """SQ8 scan shape: the per-dim bounds reduce to ONE aggregate row
    broadcast to the scoring scan (BroadcastNestedLoopJoin over the
    1-row bounds), queries broadcast, no Python UDF anywhere."""
    from lsh_spark.operators.ann import sq8_topk
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = _plan(sq8_topk(emb, emb.where(F.col("vec_id") < 5), dim=64))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BatchEvalPython" not in plan
    # quantize+dequantize stay in-plan: no shuffle between the corpus
    # scan and the scoring join (the only Exchanges serve the window)
    head = plan.split("Window")[0]
    assert "ArrowEvalPython" not in head


def test_ivf_sq8_search_no_corpus_side_exchange(spark):
    """The quantized IVF probe keeps the float index's amortization:
    the cell-bucketed corpus is consumed through its buckets, and the
    1-row bounds broadcast composes AFTER the bucket join — no corpus-
    side Exchange appears anywhere in the executed plan."""
    import uuid

    from lsh_spark.operators.ann import build_ivf_index, search_ivf_index
    from lsh_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    name = f"sq8_pidx_{uuid.uuid4().hex[:8]}"
    try:
        build_ivf_index(emb, name, n_lists=8, n_iters=1, storage="sq8",
                        dim=64, num_buckets=8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = search_ivf_index(spark, name,
                               emb.where(F.col("vec_id") < 5), k=5)
        got.count()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        assert "Bucketed: false" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for suffix in ("", "_centroids", "_meta", "_bounds"):
            spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}")


def test_split_leakage_no_join_beyond_pair_miner(spark):
    """split_leakage_stats projects the split onto id_a/id_b as a pure
    md5-bucket expression (training_ops.split_expr): the plan must have
    EXACTLY the pair miner's own joins — no extra join, and no
    corpus-sized (doc_id, split) broadcast (the round-7 form)."""
    from lsh_spark.operators.lsh_queries import minhash_near_dup_pairs
    from lsh_spark.operators.pipeline_queries import split_leakage_stats
    from lsh_spark.plans import release_intermediates

    def joins(plan: str) -> int:
        return sum(plan.count(k) for k in
                   ("BroadcastHashJoin", "SortMergeJoin",
                    "ShuffledHashJoin", "BroadcastNestedLoopJoin"))

    release_intermediates()
    pair_joins = joins(_plan(minhash_near_dup_pairs(spark, SF_DIR)))
    release_intermediates()
    leak_plan = _plan(split_leakage_stats(spark, SF_DIR))
    release_intermediates()
    assert joins(leak_plan) == pair_joins, leak_plan
    # the split expression stays in-plan: one md5 per pair side
    assert "md5" in leak_plan


def test_prepare_corpus_dedup_shuffles_digests_not_chunk_text(spark):
    """prepare_training_corpus chunk dedup: the dedup exchange carries
    (md5 digest, cid, n_tokens) — chunk text is projected away map-side
    and never crosses a shuffle (the line-dedup contract applied to
    chunks)."""
    from lsh_spark.operators.pipeline_queries import prepare_training_corpus
    from lsh_spark.plans import release_intermediates

    release_intermediates()
    plan = _plan(prepare_training_corpus(spark, SF_DIR))
    release_intermediates()
    assert "md5" in plan
    assert "partial_min" in plan
    exchange_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert exchange_lines
    assert "chunk_text" not in " ".join(exchange_lines), plan


def test_exact_dedup_single_digest_aggregate(spark):
    """exact_dedup (the keep-first survivor operator): ONE exchange,
    keyed on the md5 digest — upstream is scanned once, text is never a
    shuffle key, min(struct) combines map-side."""
    from lsh_spark.operators.dedup import exact_dedup
    from lsh_spark.sources.io import load_table

    import re

    plan = _plan(exact_dedup(load_table(spark, SF_DIR, "documents"),
                             "text", "doc_id"))
    assert "partial_min" in plan
    assert "EvalPython" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    exchanges = [l for l in plan.splitlines()
                 if "hashpartitioning" in l]
    assert len(exchanges) == 1, plan
    # the exchange keys on the md5 grouping expression, never raw text
    assert "text#" not in exchanges[0], exchanges[0]


def test_bm25_shuffles_terms_and_ids_never_text(spark):
    """BM25: the postings aggregate shuffles (doc_id, term) pairs; the
    query-term set, df table and corpus-stats row all broadcast; raw
    document text never appears in an exchange."""
    from lsh_spark.operators.pipeline_queries import bm25_search
    from lsh_spark.plans import release_intermediates

    release_intermediates()
    plan = _plan(bm25_search(spark, SF_DIR))
    release_intermediates()
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    exchange_lines = " ".join(
        l for l in plan.splitlines() if "Exchange" in l)
    assert "text#" not in exchange_lines, exchange_lines


def test_bm25_doc_lengths_pruned_to_matched_docs(spark):
    """The on-the-fly BM25 form must bound the doc-length join by the
    MATCHED postings' doc ids (a LeftSemi on doc_id upstream of the
    scoring join) — without it every document's length shuffles through
    the per-(query, doc) join, a ~TB-scale exchange of rows the query
    never touches at 10^11 docs."""
    from lsh_spark.operators.pipeline_queries import bm25_search
    from lsh_spark.plans import release_intermediates

    release_intermediates()
    plan = _plan(bm25_search(spark, SF_DIR))
    release_intermediates()
    lines = plan.splitlines()
    semi_idx = [i for i, l in enumerate(lines) if "Join type: LeftSemi" in l]
    assert semi_idx, plan
    # the detail block lists "Left keys"/"Right keys" just above the
    # join type — the semi must key on doc_id
    assert any("doc_id" in " ".join(lines[max(0, i - 3):i])
               for i in semi_idx), plan


def test_ivf_pq_index_probe_reads_buckets(spark):
    """The persisted IVF-PQ probe must consume the codes table through
    its cell buckets — no corpus-side exchange for the probe join."""
    import uuid

    from lsh_spark.operators.ann import (
        build_ivf_pq_index,
        search_ivf_pq_index,
    )
    from lsh_spark.sources.formats import drop_table_and_files
    from lsh_spark.sources.io import load_table

    name = f"ivfpqp_{uuid.uuid4().hex[:8]}"
    try:
        emb = load_table(spark, SF_DIR, "embeddings")
        build_ivf_pq_index(emb, name, n_lists=4, cells_iters=1, m=2,
                           n_codes=4, pq_iters=1, dim=64, num_buckets=4)
        queries = emb.where(F.col("vec_id") < 2)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = search_ivf_pq_index(spark, name, queries, k=5, n_probe=2)
        got.count()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for sfx in ("_codes", "_centroids", "_codebooks", "_meta",
                    "_deletes"):
            drop_table_and_files(spark, f"{name}{sfx}")


def test_pq_scores_codes_not_vectors(spark):
    """PQ/ADC: codebooks are trained at plan-construction (collected
    broadcasts + literal LUT centroids), so the EXECUTED plan has
    exactly one Python pass — the encode kernel — and no exchange ever
    carries the raw embedding array; scoring is the fixed element_at
    chain over m int codes."""
    from lsh_spark.operators.pipeline_queries import ann_pq_topk
    from lsh_spark.plans import release_intermediates

    import re

    release_intermediates()
    plan = _plan(ann_pq_topk(spark, SF_DIR))
    release_intermediates()
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    exchange_lines = " ".join(
        l for l in plan.splitlines() if "Exchange" in l)
    assert "embedding#" not in exchange_lines, exchange_lines


def test_phrase_search_shuffles_ids_never_text(spark):
    """Phrase search: the phrase-term table broadcasts; the anchor
    aggregate's exchange carries (query_id, doc_id, anchor) ints only —
    document text never shuffles, and no Python runs."""
    from lsh_spark.operators.pipeline_queries import phrase_search_docs

    plan = _plan(phrase_search_docs(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    exchange_lines = " ".join(
        l for l in plan.splitlines() if "Exchange" in l)
    assert "text#" not in exchange_lines, exchange_lines


def test_duplicate_substring_spans_digest_shuffle(spark):
    """Span detection: one scan, in-plan explode (no Python), and the
    wide exchange keys on the md5 digest — window text never shuffles."""
    import re

    from lsh_spark.operators.pipeline_queries import duplicate_substring_spans

    plan = _plan(duplicate_substring_spans(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "Generate" in plan  # the explode
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line


def test_mixture_sample_zero_shuffle(spark):
    """Mixture sampling is a pure per-row filter: no exchange, no
    Python, predicate evaluated in-plan."""
    from lsh_spark.operators.training_ops import mixture_sample_df
    from lsh_spark.sources.io import load_table

    kept = mixture_sample_df(load_table(spark, SF_DIR, "documents"),
                             {"src0": 0.5, "src1": 1.0})
    plan = _plan(kept)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_text_index_probe_reads_buckets(spark):
    """The persisted BM25 index probe consumes the postings through
    their buckets (no corpus-side exchange for the term join or the df
    aggregate) — the executed plan must read the bucketed table as
    bucketed."""
    import uuid

    from lsh_spark.operators.retrieval import (
        bm25_search_indexed,
        build_text_index,
    )
    from lsh_spark.sources.formats import drop_table_and_files
    from lsh_spark.sources.io import load_table

    name = f"txtpidx_{uuid.uuid4().hex[:8]}"
    try:
        build_text_index(load_table(spark, SF_DIR, "documents"), name,
                         num_buckets=8)
        queries = spark.range(1).select(
            F.col("id").alias("query_id"),
            F.lit("hash join merge").alias("query_text"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = bm25_search_indexed(spark, name, queries, k=5)
        got.count()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for sfx in ("_postings", "_doclen", "_stats", "_meta", "_deletes"):
            drop_table_and_files(spark, f"{name}{sfx}")


def test_q7_q8_broadcast_dimensions_single_fact_shuffle(spark):
    """q7/q8: every dimension side (supplier/customer/nation/region/
    part) broadcasts; the only shuffle joins are lineitem ⨝ orders."""
    from lsh_spark.operators.relational import (
        q7_volume_shipping,
        q8_market_share,
    )

    for q in (q7_volume_shipping, q8_market_share):
        plan = _plan(q(spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert (plan.count("SortMergeJoin")
                + plan.count("ShuffledHashJoin")) <= 1, plan


def test_q19_disjunction_stays_a_join(spark):
    """The OR'd bracket predicate must evaluate post-join — never turn
    the broadcast equi-join into a nested-loop cross product."""
    from lsh_spark.operators.relational import q19_bracket_revenue

    plan = _plan(q19_bracket_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_topk_avoids_window_funnel(spark):
    """q10 / pmi_top_pairs global top-k: the plan must use the
    distributed TakeOrderedAndProject, never a single-partition global
    window over the full candidate set."""
    from lsh_spark.operators.pipeline_queries import pmi_top_pairs
    from lsh_spark.operators.relational import q10_returned_items

    q10 = _plan(q10_returned_items(spark, SF_DIR))
    assert "TakeOrderedAndProject" in q10, q10
    pmi = _plan(pmi_top_pairs(spark, SF_DIR))
    assert "TakeOrderedAndProject" in pmi, pmi


def test_q9_broadcast_dimensions_single_fact_shuffle(spark):
    """q9 shape: part/supplier/nation broadcast; the only shuffle join
    is lineitem ⨝ orders, and the part color filter prunes before the
    join (pushed to the broadcast side's scan)."""
    from lsh_spark.operators.relational import q9_profit_by_nation_year

    plan = _plan(q9_profit_by_nation_year(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert (plan.count("SortMergeJoin")
            + plan.count("ShuffledHashJoin")) <= 1, plan
    assert "CartesianProduct" not in plan


def test_q21_ships_ids_only_through_wide_joins(spark):
    """q21 shape: the exists/not-exists nest runs as per-order counts —
    the wide exchanges carry (orderkey, suppkey) ints, never supplier
    names (names broadcast at the end)."""
    from lsh_spark.operators.relational import q21_waiting_suppliers

    plan = _plan(q21_waiting_suppliers(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "s_name#" not in line, line


def test_cap_per_source_window_input_is_bounded(spark):
    """cap_per_source (two-phase, round-10 verdict item 2): the exact
    row_number window must consume the bucket-cutoff-FILTERED frame,
    never the raw corpus — the plan carries the (__bkt <= __cut) filter
    fed by a broadcast of the |sources|-row cutoff frame, plus the
    histogram's cumulative window.  A revert to the single unbounded
    window loses all three markers."""
    from lsh_spark.operators.training_ops import cap_per_source
    from lsh_spark.sources.io import load_table

    plan = _plan(cap_per_source(load_table(spark, SF_DIR, "documents"),
                                cap=20))
    assert "__cut" in plan and "__bkt" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Window") >= 2, plan


def test_q11_q20_broadcast_dims_no_sort_merge(spark):
    """q11/q20 shapes: dimensions broadcast, the only shuffles are the
    fact-side aggregates — no sort-merge join anywhere."""
    from lsh_spark.operators.relational import (
        q11_important_parts,
        q20_excess_shippers,
    )

    for fn in (q11_important_parts, q20_excess_shippers):
        plan = _plan(fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


def test_cross_source_matrix_ships_no_text(spark):
    """The contamination matrix rides the ids-only pair contract: no
    exchange carries the text column (sources attach by id to verified
    pairs; denominators broadcast)."""
    from lsh_spark.operators.pipeline_queries import (
        cross_source_near_dup_matrix,
    )

    plan = _plan(cross_source_near_dup_matrix(spark, SF_DIR))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line


def test_bpe_train_merges_stays_jvm_side(spark):
    """The BPE merge loop is pure window algebra: no Python evaluation
    anywhere in the plan, and the top-1 per step plans as TakeOrdered,
    never a full-vocab sort."""
    from lsh_spark.operators.training_ops import bpe_train_merges
    from lsh_spark.sources.io import load_table

    plan = _plan(bpe_train_merges(
        load_table(spark, SF_DIR, "documents"), steps=2))
    assert "EvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_token_budget_window_input_is_bounded(spark):
    """token_budget_per_source (round 11): same two-phase contract as
    cap_per_source — the exact exclusive-prefix window consumes the
    bucket-cutoff-filtered frame (broadcast cutoff join + __bkt/__cut
    filter), never the raw corpus, plus the histogram's own cumulative
    window."""
    from lsh_spark.operators.training_ops import token_budget_per_source
    from lsh_spark.sources.io import load_table

    plan = _plan(token_budget_per_source(
        load_table(spark, SF_DIR, "documents"), budget=600))
    assert "__cut" in plan and "__bkt" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Window") >= 2, plan


def test_cdc_chunk_stats_no_window_no_cartesian(spark):
    """cdc_chunk_stats: boundary detection is position-local, so the
    plan must carry NO Window operator (the chunker is a mapInPandas
    scan; chunk extraction happens against the carried text in the same
    row) and no cartesian product — sharing is digest-keyed joins."""
    from lsh_spark.operators.dedup import cdc_chunk_stats
    from lsh_spark.sources.io import load_table

    plan = _plan(cdc_chunk_stats(load_table(spark, SF_DIR, "documents")))
    assert "MapInPandas" in plan, plan
    assert "Window" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_hll_vocab_report_is_pure_aggregate_chain(spark):
    """hll_vocab_report: registers are max-mergeable, so the whole
    query is one explode + two hash aggregates — no joins, no windows,
    no Python (the hash/rho arithmetic is JVM expressions)."""
    from lsh_spark.operators.pipeline_queries import hll_vocab_report

    plan = _plan(hll_vocab_report(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "MapInPandas" not in plan and "ArrowEval" not in plan, plan


def test_rolling_counts_one_shuffle_one_sort_one_window(spark):
    """events_user_rolling_counts: both range frames must ride ONE
    (user_id, ts) exchange + sort and ONE Window operator — a second
    hashpartitioning or Sort means the frames stopped sharing the
    ordering."""
    from lsh_spark.operators.relational import events_user_rolling_counts

    plan = _plan(events_user_rolling_counts(spark, SF_DIR))
    assert plan.count("hashpartitioning(user_id") == 1, plan
    assert plan.count("Sort (") == 1, plan
    assert plan.count(") Window") == 1, plan
    assert "n_15m" in plan and "n_1h" in plan


def test_source_kl_no_global_window_broadcast_totals(spark):
    """source_kl_divergence: totals/grand-total ride broadcast joins,
    never a partition-less Window (which would single-task the vocab);
    no cartesian beyond the 1-row broadcast."""
    from lsh_spark.operators.pipeline_queries import source_kl_divergence

    plan = _plan(source_kl_divergence(spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_chunk_novelty_probe_corpus_side_bucketed(spark):
    """chunk_novelty_against_index: the persisted _chunks table must be
    read through its bucket spec (Bucketed: true) so the digest
    semi-probe needs no corpus-side exchange; only the (small) probe
    side chunks per query."""
    from pyspark.sql import functions as F

    from lsh_spark.operators.dedup import (build_cdc_chunk_index,
                                           chunk_novelty_against_index)
    from lsh_spark.sources.io import load_table

    docs = load_table(spark, SF_DIR, "documents")
    for sfx in ("chunks", "meta", "deletes"):
        spark.sql(f"DROP TABLE IF EXISTS cdcplan_{sfx}")
    build_cdc_chunk_index(docs.where(F.col("doc_id") % 2 == 0),
                          "cdcplan", num_buckets=8)
    plan = _plan(chunk_novelty_against_index(
        spark, "cdcplan", docs.where(F.col("doc_id") % 2 == 1)))
    assert "Bucketed: true" in plan, plan
    assert "Cartesian" not in plan, plan


def test_bloom_probe_broadcasts_filter_words(spark):
    """The Bloom words side must broadcast (≤ m_bits/32 rows) and the
    probe must stay pure-JVM — no Python eval anywhere."""
    from lsh_spark.operators.pipeline_queries import bloom_dedup_docs

    plan = _plan(bloom_dedup_docs(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # the probe-side digest windows are JVM expressions (md5/conv), no
    # cartesian anywhere
    assert "CartesianProduct" not in plan


def test_triangles_no_cartesian_ids_only(spark):
    """Triangle counting joins carry (long, long) edge rows only: no
    cartesian, no Python nodes, and the heavy-user anti-join
    broadcasts."""
    from lsh_spark.operators.pipeline_queries import item_triangle_counts

    plan = _plan(item_triangle_counts(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # heavy-user cap broadcast


def test_key_skew_report_two_aggregates_no_window(spark):
    """The skew diagnostic is two map-side-combinable aggregates — no
    window, no sort, no Python."""
    from lsh_spark.operators.relational import key_skew_report

    plan = _plan(key_skew_report(spark, SF_DIR))
    assert "Window" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_ivf_radius_no_rank_window(spark):
    """The radius query's terminal operator is a filter — no per-query
    rank window anywhere in the plan (the output-bound contract)."""
    from lsh_spark.operators.pipeline_queries import ann_ivf_radius

    plan = _plan(ann_ivf_radius(spark, SF_DIR))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_more_like_this_prunes_postings_to_query_vocab(spark):
    """MLT rides bm25_topk: the postings side must join the broadcast
    query-term set (pruning df/score work to the matched vocabulary)
    and never ship text through the score join."""
    from lsh_spark.operators.pipeline_queries import more_like_this_docs

    plan = _plan(more_like_this_docs(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_hourly_spikes_window_over_hourly_frame(spark):
    """The trailing window runs over the (type, hour) AGGREGATE, never
    the raw event stream: a partial aggregation must precede the single
    window, and nothing evaluates in Python."""
    from lsh_spark.operators.relational import events_hourly_spikes

    plan = _plan(events_hourly_spikes(spark, SF_DIR))
    assert plan.count("Window") >= 1
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan


def test_proximity_search_broadcast_terms_ids_only(spark):
    """Proximity: the query-term table broadcasts and prunes postings
    at the scan; the pair join's exchanges carry (query_id, doc_id,
    position) ints only — text never shuffles, no Python runs."""
    from lsh_spark.operators.pipeline_queries import proximity_search_docs

    plan = _plan(proximity_search_docs(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    exchange_lines = " ".join(
        l for l in plan.splitlines() if "Exchange" in l)
    assert "text#" not in exchange_lines, exchange_lines
    # r14: the position-pair join carries the banded __bk bucket key
    # (the output-neutral DIV(window+1) prefilter) — without it the
    # per-document product is tf_a × tf_b and a hot term goes
    # quadratic.
    assert any("keys" in l and "__bk" in l for l in plan.splitlines()), \
        "banded __bk missing from the pair-join keys"


def test_ppr_integer_iteration_no_float_exchange(spark):
    """Personalized PageRank: three micro-unit iterations shuffle
    (node, BIGINT) pairs only — no double column crosses an exchange
    (the terminal display division is post-aggregate), the seed table
    broadcasts, and no Python runs."""
    from lsh_spark.operators.pipeline_queries import item_ppr_scores

    plan = _plan(item_ppr_scores(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "rank#" not in line, line


def test_hll_users_pure_aggregate_chain(spark):
    """Grouped HLL: register construction is one scan + two map-side-
    combinable aggregates — no join, no window, no Python."""
    from lsh_spark.operators.pipeline_queries import (
        hll_users_per_event_type)

    plan = _plan(hll_users_per_event_type(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_hll_report_default_ships_no_items(spark):
    """r13 (verdict item 4): hll_distinct_report's production default
    (exact_evidence=False) must never ship the raw item column through
    an exchange — the plan carries only (group, register, rho) ints and
    runs no exact-distinct aggregate.  The gate call sites opt in to
    the evidence column explicitly."""
    from lsh_spark.operators.pipeline_queries import hll_distinct_report
    from lsh_spark.sources.io import load_table

    ev = load_table(spark, SF_DIR, "events")
    plan = _plan(hll_distinct_report(ev, "event_type", "user_id"))
    assert "__u" not in plan, [l for l in plan.splitlines() if "__u" in l]
    assert "__nd" not in plan
    # the opt-in path really does carry the evidence aggregate
    on = _plan(hll_distinct_report(ev, "event_type", "user_id",
                                   exact_evidence=True))
    assert "__nd" in on


def test_bench_noop_terminal_set_is_current(spark):
    """r13 (verdict item 3): bench.py's _NOOP_TERMINAL must equal the
    plan-diff detection — a query whose count(1) plan drops prunable
    nodes (eliminated joins, pruned scans, pruned Arrow/Python evals)
    is silently under-measured by a count() terminal, and a query in
    the set that no longer needs it wastes noop-sink cost.  Full sweep
    over the registry at sf0.001 (detection is rule-based, so the
    verdict is SF-independent)."""
    import importlib.util
    import os

    import __spark_entry__ as entry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "find_prunable_terminals",
        os.path.join(root, "scripts", "find_prunable_terminals.py"))
    det = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(det)
    spec_b = importlib.util.spec_from_file_location(
        "bench", os.path.join(root, "bench.py"))
    bench = importlib.util.module_from_spec(spec_b)
    spec_b.loader.exec_module(bench)

    derived = set()
    for name, fn in sorted(entry.queries().items()):
        if det.lost_under_count(fn(spark, SF_DIR)):
            derived.add(name)
    assert derived == bench._NOOP_TERMINAL, (
        f"stale _NOOP_TERMINAL: missing={sorted(derived - bench._NOOP_TERMINAL)} "
        f"extra={sorted(bench._NOOP_TERMINAL - derived)}")


def test_proximity_rank_broadcast_terms_no_python(spark):
    """Proximity-weighted BM25 (r13): both the tf postings and the
    positional postings prune against broadcast query terms; every
    exchange carries bare (query_id, doc_id, term, pos/score) rows —
    document text never shuffles and no Python runs; the index scans
    stay bucketed."""
    from lsh_spark.operators.pipeline_queries import proximity_rank_docs

    plan = _plan(proximity_rank_docs(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    exchange_lines = " ".join(
        l for l in plan.splitlines() if "Exchange" in l)
    assert "text#" not in exchange_lines, exchange_lines
    assert "Bucketed: true" in plan
    # r14: the banded __bk key rides the rank tail's pair join too
    assert any("keys" in l and "__bk" in l for l in plan.splitlines()), \
        "banded __bk missing from the rank-tail pair-join keys"


def test_hybrid_prox_three_channels_indexed_no_python(spark):
    """Three-channel hybrid (r14): both lexical channels probe the
    bucketed positional index (no per-batch corpus tokenize), the pair
    stage carries the banded __bk key, document text never crosses an
    exchange, and no Python runs anywhere in the fusion."""
    from lsh_spark.operators.pipeline_queries import hybrid_prox_search_rrf

    plan = _plan(hybrid_prox_search_rrf(spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Bucketed: true" in plan
    exchange_lines = " ".join(
        l for l in plan.splitlines() if "Exchange" in l)
    assert "text#" not in exchange_lines, exchange_lines
    assert any("keys" in l and "__bk" in l for l in plan.splitlines()), \
        "banded __bk missing from the proximity channel's pair join"
