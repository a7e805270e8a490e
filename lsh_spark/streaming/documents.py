"""Structured Streaming over the documents table: the stream+LSH
composition — incoming documents LSH-joined against a static reference
corpus per micro-batch via ``foreachBatch``.

``foreachBatch`` is the standard escape hatch when an operator exceeds
what incremental execution supports (the similarity join needs banding +
blocking-join + verification — a full batch plan).  Each micro-batch runs
the SAME ``lsh_similarity_join`` operator the batch path uses, so
batch/stream parity holds by construction and the DuckDB oracle for the
batch A⨝B join checks the union of all micro-batch outputs.

At scale the static corpus's shingle bands would be precomputed to a
bucketed table (``sources.formats.write_bucketed_table``); the per-batch
join logic is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import (_start_batches, _write_batch_idempotent, drain,
                    file_stream, run_available_now)


def streaming_similarity_join(
    stream_docs: DataFrame,
    corpus: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    left_id: str,
    right_id: str,
    text_col: str = "text",
    ngram_width: int = 3,
    band_count: int = 8,
    band_size: int = 2,
    seed: int = 123,
    threshold: float = 0.7,
):
    """Run ``lsh_similarity_join(batch, corpus)`` per micro-batch, appending
    matches to ``out_dir`` as parquet.  Returns the StreamingQuery."""
    from ..operators.similarity_join import lsh_similarity_join

    return _start_batches(
        stream_docs,
        lambda batch: lsh_similarity_join(
            batch, corpus, text_col, text_col,
            left_id=left_id, right_id=right_id,
            ngram_width=ngram_width, band_count=band_count,
            band_size=band_size, seed=seed, threshold=threshold),
        lambda matches, batch_id: _write_batch_idempotent(
            matches, out_dir, batch_id),
        checkpoint_dir)


def streaming_near_dup_against_index(
    stream_docs: DataFrame,
    spark: SparkSession,
    index_table: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
):
    """Streaming near-dup filter against a PERSISTED corpus index
    (``operators.similarity_join.build_lsh_corpus_index``): each
    micro-batch computes only its own shingle sets/bands and probes the
    bucketed band/set tables — the corpus is never re-shingled, re-banded,
    or re-shuffled per batch.  This is the production form of
    ``streaming_near_dup_against_corpus`` (which recomputes the static
    side every batch); match results are identical."""
    from ..operators.similarity_join import lsh_similarity_join_indexed

    return _start_batches(
        stream_docs,
        lambda batch: lsh_similarity_join_indexed(
            spark, index_table, batch, text_col,
            probe_id=id_col, threshold=threshold),
        lambda matches, batch_id: _write_batch_idempotent(
            matches, out_dir, batch_id),
        checkpoint_dir)


def _ab_drain(spark: SparkSession, name: str, sf_dir: str,
              step) -> DataFrame:
    """The A/B gate stream: odd-id documents arrive as (probe_id, text)
    probes, ``step`` matches each micro-batch against the even-id
    corpus, and the matches come back with jaccard at 6dp."""
    stream = (file_stream(spark, sf_dir, "documents")
              .where(F.col("doc_id") % 2 == 1)
              .selectExpr("doc_id AS probe_id", "text"))
    out = drain(spark, name, sf_dir, stream, step,
                "probe_id long, corpus_id long, jaccard double")
    return out.select(
        "probe_id", "corpus_id", F.round("jaccard", 6).alias("jaccard"))


def similarity_join_ab_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the README two-table similarity join
    (``similarity_join_ab``) driven by an ACTUAL Structured Streaming query
    — odd-id documents arrive as a file-source stream and are LSH-joined
    against the static even-id corpus inside ``foreachBatch``; the gate
    result is the union of every micro-batch's matches, read back from the
    parquet sink.  Carries the same exact DuckDB oracle as the batch twin
    (banding + verification reproduced in SQL, so recall loss cancels)."""
    from ..operators.lsh_queries import _JOIN_AB_PLAN
    from ..operators.similarity_join import lsh_similarity_join
    from ..sources.io import load_table

    corpus = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 0).selectExpr("doc_id AS corpus_id", "text")
    return _ab_drain(
        spark, "similarity_join_ab_streaming", sf_dir,
        lambda batch: lsh_similarity_join(
            batch, corpus, "text", "text",
            left_id="probe_id", right_id="corpus_id",
            ngram_width=3, band_count=_JOIN_AB_PLAN.band_count,
            band_size=_JOIN_AB_PLAN.band_size, seed=123, threshold=0.7))


def ensure_ab_index(spark: SparkSession, sf_dir: str) -> str:
    """Session-amortized build of the gate's A/B corpus index (even-id
    documents, the README join's banding plan); returns the index name.
    Keyed on the banding parameters pinned in the meta row
    (``sources/index.py::ensure``): bench's best-of-N reruns reuse the
    index and time the PROBE only, which is the number that matters at
    deployment.  Shared by the streaming probe and the index-stats gate
    queries."""
    from ..operators.lsh_queries import _JOIN_AB_PLAN
    from ..operators.similarity_join import build_lsh_corpus_index
    from ..sources import index as ix
    from ..sources.io import load_table

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    index = f"lshidx_ab_{tag}"
    want = dict(text_col="text", id_col="corpus_id", ngram_width=3,
                band_count=int(_JOIN_AB_PLAN.band_count),
                band_size=int(_JOIN_AB_PLAN.band_size), seed=123)

    def build() -> None:
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.where(F.col("doc_id") % 2 == 0).selectExpr(
            "doc_id AS corpus_id", "text")
        build_lsh_corpus_index(corpus, index, **want)

    return ix.ensure(spark, ix.LSH, index, want, build)


def near_dup_index_probe_streaming(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Driver-gate query: the PRODUCTION streaming near-dup shape — a
    persisted LSH corpus index (``build_lsh_corpus_index``'s bucketed
    ``_bands``/``_sets`` tables) probed by a document file-stream via
    ``foreachBatch``.  The corpus is shingled, banded, and shuffled ONCE
    at index-build time; each micro-batch computes only its own shingle
    sets and joins against the bucketed tables with no corpus-side
    exchange (asserted by tests/test_plans.py).

    Same A/B split, banding plan, and threshold as
    ``similarity_join_ab_streaming``, so it carries the identical exact
    DuckDB oracle — the recompute twin and the indexed probe must agree
    to the hash."""
    from ..operators.similarity_join import lsh_similarity_join_indexed

    index = ensure_ab_index(spark, sf_dir)
    return _ab_drain(
        spark, "near_dup_index_probe_streaming", sf_dir,
        lambda batch: lsh_similarity_join_indexed(
            spark, index, batch, "text", probe_id="probe_id",
            threshold=0.7))


def _oracle() -> str:
    from ..operators.lsh_queries import _JOIN_AB_PLAN
    from ..oracles import duckdb_lsh as _orc

    return _orc.similarity_join_ab_sql(
        3, _JOIN_AB_PLAN.band_count, _JOIN_AB_PLAN.band_size, 123, 0.7)


def pii_scrub_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the PII scrub as an ACTUAL Structured
    Streaming query — documents arrive as a file-source stream, the
    planted-PII projection + ``functions.pii`` redaction run as a
    STATELESS streaming select (no watermark, no state store — the
    incremental engine handles pure maps natively, no ``foreachBatch``
    needed), drained AvailableNow into a memory sink.  Carries the
    identical exact oracle as the batch twin (``pii_scrub_stats``), so
    batch/stream parity is driver-checked."""
    from ..functions import pii

    stream = file_stream(spark, sf_dir, "documents")
    d = F.col("doc_id")
    planted = stream.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 2 == 0,
                   F.concat(F.lit(" contact user"), d.cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(d % 3 == 0,
                   F.concat(F.lit(" from 10."), (d % 256).cast("string"),
                            F.lit(".0."),
                            ((d * 7) % 256).cast("string"))
                   ).otherwise(F.lit("")),
            F.lit(" call 555-"),
            F.lpad(((d * 13) % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((d * 29) % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    scrubbed = planted.select(
        "doc_id",
        pii.email_count("text").alias("n_emails"),
        pii.ipv4_count("text").alias("n_ips"),
        pii.phone_count("text").alias("n_phones"),
        pii.redact_pii("text").alias("clean_text"),
    )
    run_available_now(scrubbed, "pii_scrub_streaming_sink", "append")
    return spark.table("pii_scrub_streaming_sink")


QUERIES = {
    "similarity_join_ab_streaming": (similarity_join_ab_streaming, _oracle()),
    "near_dup_index_probe_streaming": (near_dup_index_probe_streaming,
                                       _oracle()),
}
# NOTE: pii_scrub_streaming registers through
# pipeline_queries.QUERIES_LATE (merged after every streaming family) —
# adding it to THIS dict would shift the registry positions of every
# later head query and orphan their driver-row history.


def media_features_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the multimodal decode chain as an ACTUAL
    Structured Streaming query — documents arrive as a file-source
    stream, the arithmetic MP3 corpus is synthesized and header-walked
    by the SAME Arrow ``mapInPandas`` kernels the batch gate uses
    (``mapInPandas`` is a stateless streaming map: no watermark, no
    state store, media bytes never leave their partition), drained
    AvailableNow into a memory sink.  Carries the identical exact
    oracle as the batch twin (``mp3_stream_features``), so
    batch/stream parity of the media pipeline is driver-checked."""
    from ..multimodal.audio import mp3_stream_features
    from ..multimodal.media import synthesize_mp3_audio_from_documents

    feats = mp3_stream_features(synthesize_mp3_audio_from_documents(
        file_stream(spark, sf_dir, "documents")))
    run_available_now(feats, "media_features_streaming_sink", "append")
    return spark.table("media_features_streaming_sink")


def bm25_search_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: streaming lexical retrieval — query texts
    arrive as a file-source stream (the first ``_BM25_STREAM_Q``
    documents, self-included in the corpus) and probe the PERSISTED
    BM25 inverted index inside ``foreachBatch``
    (``retrieval.bm25_search_indexed``), so each micro-batch shuffles
    only its own query terms while the corpus-side postings read
    through their buckets.  Batch/stream parity is by construction —
    the operator is the same one the batch gate pins — so the oracle is
    the batch BM25 replay with the query CTE drawn from documents."""
    from ..operators.pipeline_queries import _BM25_K, _BM25_STREAM_Q
    from ..operators.retrieval import bm25_search_indexed, ensure_text_index

    index = ensure_text_index(spark, sf_dir)
    stream = (file_stream(spark, sf_dir, "documents")
              .where(F.col("doc_id") < _BM25_STREAM_Q)
              .selectExpr("doc_id AS query_id", "text AS query_text"))
    return drain(
        spark, "bm25_search_streaming", sf_dir, stream,
        lambda batch: bm25_search_indexed(spark, index, batch, k=_BM25_K),
        "query_id long, doc_id long, score double, rank int")


def phrase_search_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: streaming exact-phrase retrieval — the gate's
    three phrases arrive as a file-source stream (ids 0-2 drawn from the
    documents parquet, mapped to the literal phrase list in-plan) and
    probe the PERSISTED positional text index inside ``foreachBatch``
    (``retrieval.phrase_search_indexed``): each micro-batch broadcasts
    its own phrase terms while the corpus-side positions read from the
    bucketed table.  Batch/stream parity is by construction — the same
    operator the batch gate pins — so the oracle is the batch phrase
    replay."""
    from ..operators.pipeline_queries import _PHRASES
    from ..operators.retrieval import (
        ensure_text_index,
        phrase_search_indexed,
    )

    index = ensure_text_index(spark, sf_dir)
    phrases = F.array(*[F.lit(p) for _qid, p in _PHRASES])
    stream = (
        file_stream(spark, sf_dir, "documents")
        .where(F.col("doc_id") < len(_PHRASES))
        .select(
            F.col("doc_id").alias("query_id"),
            F.element_at(phrases, (F.col("doc_id") + 1).cast("int"))
            .alias("phrase"))
    )
    return drain(
        spark, "phrase_search_streaming", sf_dir, stream,
        lambda batch: phrase_search_indexed(spark, index, batch),
        "query_id long, doc_id long, n_occurrences long, first_pos long")


def boolean_search_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: streaming boolean (MUST / MUST-NOT) retrieval
    — the gate's three boolean queries arrive as a file-source stream
    (ids 0-2 drawn from the documents parquet, mapped to the literal
    term lists in-plan) and probe the PERSISTED text index inside
    ``foreachBatch`` (``retrieval.boolean_search_indexed``): each
    micro-batch broadcasts its own term lists while the postings read
    from the bucketed table.  Batch/stream parity is by construction —
    the same operator the batch gate pins — so the oracle is the batch
    boolean replay (corpus-derived, independently pinning the persisted
    postings)."""
    from ..operators.pipeline_queries import _BOOL_QUERIES
    from ..operators.retrieval import boolean_search_indexed, ensure_text_index

    index = ensure_text_index(spark, sf_dir)
    musts = F.array(*[F.lit(m) for _q, m, _n in _BOOL_QUERIES])
    nots = F.array(*[F.lit(n) for _q, _m, n in _BOOL_QUERIES])
    stream = (
        file_stream(spark, sf_dir, "documents")
        .where(F.col("doc_id") < len(_BOOL_QUERIES))
        .select(
            F.col("doc_id").alias("query_id"),
            F.element_at(musts, (F.col("doc_id") + 1).cast("int"))
            .alias("must_terms"),
            F.element_at(nots, (F.col("doc_id") + 1).cast("int"))
            .alias("not_terms"))
    )
    return drain(
        spark, "boolean_search_streaming", sf_dir, stream,
        lambda batch: boolean_search_indexed(spark, index, batch),
        "query_id long, doc_id long")


def ensure_cdc_index(spark: SparkSession, sf_dir: str) -> str:
    """Session-amortized build of the gate's CDC chunk index (even-id
    documents, default chunking params; ``sources/index.py::ensure``);
    returns the index name.  Shared by the batch probe, the streaming
    probe, and the index-stats gate queries."""
    from ..operators.dedup import (_CDC_BASE, _CDC_DIVISOR, _CDC_WINDOW,
                                   build_cdc_chunk_index)
    from ..sources import index as ix
    from ..sources.io import load_table

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    index = f"cdcidx_{tag}"
    want = dict(id_col="doc_id", text_col="text",
                window=int(_CDC_WINDOW), base=int(_CDC_BASE),
                divisor=int(_CDC_DIVISOR))

    def build() -> None:
        docs = load_table(spark, sf_dir, "documents")
        build_cdc_chunk_index(docs.where(F.col("doc_id") % 2 == 0), index,
                              **want)

    return ix.ensure(spark, ix.CDC, index, want, build)


def chunk_novelty_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the streaming incremental-crawl storage-dedup
    probe — odd-id documents arrive as a file-source stream; each
    micro-batch chunks ONLY itself (``dedup._cdc_chunks``) and
    semi-probes the persisted bucketed chunk-digest index by digest, no
    corpus-side exchange per batch.  Same oracle as the batch twin
    ``chunk_novelty_docs`` (both sides re-derived from the raw corpus
    in SQL, so the persisted index content is independently pinned)."""
    from ..operators.dedup import chunk_novelty_against_index

    index = ensure_cdc_index(spark, sf_dir)
    return drain(
        spark, "chunk_novelty_streaming", sf_dir,
        file_stream(spark, sf_dir, "documents").where(
            F.col("doc_id") % 2 == 1),
        lambda batch: chunk_novelty_against_index(spark, index, batch),
        "doc_id long, n_unique_chunks long, n_known_chunks long, "
        "known_frac double")


def source_kl_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the streaming DRIFT MONITOR — odd-id documents
    arrive as a file-source stream; each micro-batch contributes only
    its (source, word, count) PARTIALS (map-side-combining shape: the
    per-batch write is vocabulary-bounded, never document-bounded), and
    the final read-back sums partials and computes per-source
    KL(streamed-source distribution || static corpus distribution) with
    the zipf float contract (one literal double op order per word term,
    6dp quantize, DECIMAL(28,6) sum).  Streamed words are a subset of
    the static corpus here, so every pc > 0; the join to corpus counts
    is inner by construction.

    Returns (source, n_tokens, n_types, kl_vs_corpus) over the streamed
    half."""
    from ..operators.training_ops import _words
    from ..sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    partials = drain(
        spark, "source_kl_streaming", sf_dir,
        file_stream(spark, sf_dir, "documents").where(
            F.col("doc_id") % 2 == 1),
        lambda batch: (
            batch.select(
                "source", F.explode(_words(F.col("text"))).alias("__w"))
            .groupBy("source", "__w")
            .agg(F.count(F.lit(1)).alias("__cs"))),
        "source string, __w string, __cs long")
    sw = partials.groupBy("source", "__w").agg(F.sum("__cs").alias("__cs"))
    corpus = (
        docs.select("source",
                    F.explode(_words(F.col("text"))).alias("__w"))
        .groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    )
    totals = sw.groupBy("source").agg(
        F.sum("__cs").alias("__ns"),
        F.count(F.lit(1)).alias("n_types"))
    big_n = corpus.agg(F.sum("__c").alias("__N"))
    ps = F.col("__cs").cast("double") / F.col("__ns").cast("double")
    pc = F.col("__c").cast("double") / F.col("__N").cast("double")
    term = F.round(ps * F.log(ps / pc), 6).cast("decimal(28,6)")
    return (
        sw.join(corpus, on="__w")
        .join(F.broadcast(totals), on="source")
        .crossJoin(F.broadcast(big_n))
        .groupBy("source", "__ns", "n_types")
        .agg(F.sum(term).alias("__kl"))
        .select(
            "source",
            F.col("__ns").alias("n_tokens"),
            "n_types",
            F.col("__kl").cast("double").alias("kl_vs_corpus"),
        )
    )


def bloom_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the streaming Bloom membership gate — the
    crawl probe frame (odd-id docs + planted exact duplicates, same
    construction as the batch twin) arrives as a file-source stream;
    the Bloom words table and the exact-digest set build ONCE from the
    even-id corpus (localCheckpointed — a LogicalRDD leaf, so no
    micro-batch re-aggregates the corpus) and each batch runs the
    broadcast probe + digest-confirm joins.  Same oracle as the batch
    twin ``bloom_dedup_docs`` — batch/stream parity by construction."""
    from ..operators.bloom import bloom_build_words, bloom_probe_report
    from ..operators.pipeline_queries import (_BLOOM_M_BITS,
                                              _BLOOM_PLANT_SHIFT)
    from ..sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    words = bloom_build_words(
        corpus, "text", m_bits=_BLOOM_M_BITS).localCheckpoint(eager=True)
    seen = (corpus.select(F.md5(F.col("text")).alias("__hx")).distinct()
            .localCheckpoint(eager=True))

    stream = (
        file_stream(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0))
        .select(
            F.when(F.col("doc_id") % 10 == 0,
                   F.col("doc_id") + F.lit(_BLOOM_PLANT_SHIFT))
            .otherwise(F.col("doc_id")).alias("doc_id"),
            "text")
    )
    return drain(
        spark, "bloom_dedup_streaming", sf_dir, stream,
        lambda batch: bloom_probe_report(batch, words, seen,
                                         m_bits=_BLOOM_M_BITS),
        "doc_id long, bloom_hit boolean, exact_dup boolean")
