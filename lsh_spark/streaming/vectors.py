"""Structured Streaming over the embeddings table: a vector stream
probed against the PERSISTED IVF index per micro-batch — the vector
twin of ``streaming/documents.py``'s LSH index probe, and the
production shape for streaming similarity search at 100 TB: the
corpus-wide work (Lloyd training + the bucketed-by-cell write) happens
once at index-build time; each micro-batch computes only its own cell
assignments and reads the matching corpus buckets with no corpus-side
exchange.

``foreachBatch`` + ``search_ivf_index`` keeps batch/stream parity by
construction (the operator is pytest-pinned to return exactly
``ivf_lloyd_topk``'s results for matching parameters), so the gate
query reuses the batch IVF oracle verbatim: the union of micro-batch
outputs must hash-match the one-shot SQL replay of training + assign +
probe + rerank.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import index as ix
from .drain import drain, file_stream


def _tag(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/")).replace(".", "_")


def _query_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate's query vectors (``vec_id < _N_QUERIES``) as a stream."""
    from ..operators.pipeline_queries import _N_QUERIES

    return file_stream(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _N_QUERIES)


def ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Session-amortized build of the gate's persisted IVF index over
    the embeddings table (the ``ann_ivf_topk`` parameters;
    ``sources/index.py::ensure``); returns the index name.  Shared by
    the streaming search and the index-stats gate queries."""
    from ..operators.ann import build_ivf_index
    from ..operators.pipeline_queries import _IVF_ITERS, _IVF_LISTS
    from ..sources.io import load_table

    index = f"ivfidx_{_tag(sf_dir)}"
    want = dict(vec_col="embedding", id_col="vec_id",
                n_lists=int(_IVF_LISTS), n_iters=int(_IVF_ITERS))
    return ix.ensure(spark, ix.IVF, index, want, lambda: build_ivf_index(
        load_table(spark, sf_dir, "embeddings"), index, **want))


def ann_ivf_search_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: the ``ann_ivf_topk`` workload (queries =
    ``vec_id < _N_QUERIES``) driven through an actual streaming query —
    query vectors arrive as a file-source stream and probe the
    persisted IVF index inside ``foreachBatch``.  Same index parameters
    as the batch twin, so it carries the identical exact DuckDB oracle
    (``ANN_IVF_LLOYD_ORACLE``)."""
    from ..operators.ann import search_ivf_index
    from ..operators.pipeline_queries import _ANN_K, _IVF_PROBE

    index = ensure_ivf_index(spark, sf_dir)
    return drain(
        spark, "ann_ivf_search_streaming", sf_dir,
        _query_stream(spark, sf_dir),
        lambda batch: search_ivf_index(spark, index, batch,
                                       k=_ANN_K, n_probe=_IVF_PROBE),
        "query_id long, neighbor_id long, cosine_sim double, rank int")


def ann_pq_search_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``ann_pq_topk`` workload driven through a streaming query:
    query vectors arrive as a file-source stream and probe the
    persisted PQ index inside ``foreachBatch`` — same parameters as
    the batch twin, so it carries the identical exact unrolled-Lloyd
    ADC oracle.  Registered via pipeline_queries.QUERIES_LATE (the
    late-registration contract keeps earlier registry positions
    stable)."""
    from ..operators.ann import search_pq_index
    from ..operators.pipeline_queries import _ANN_K

    index = ensure_pq_index(spark, sf_dir)
    return drain(
        spark, "ann_pq_search_streaming", sf_dir,
        _query_stream(spark, sf_dir),
        lambda batch: search_pq_index(spark, index, batch, k=_ANN_K),
        "query_id long, neighbor_id long, approx_dist double, rank int")


def _oracle() -> str:
    from ..operators.pipeline_queries import ANN_IVF_LLOYD_ORACLE

    return ANN_IVF_LLOYD_ORACLE


QUERIES = {
    "ann_ivf_search_streaming": (ann_ivf_search_streaming, _oracle()),
}


def ensure_ivf_sq8_index(spark: SparkSession, sf_dir: str) -> str:
    """Session-amortized build of the QUANTIZED gate index — the
    ``ensure_ivf_index`` twin with ``storage="sq8"`` (FAISS IVF-SQ
    shape: int8 codes + frozen per-dim bounds instead of float
    vectors).  Separate physical name so the float32 gate index and its
    driver-row history are untouched."""
    from ..operators.ann import build_ivf_index
    from ..operators.pipeline_queries import _IVF_ITERS, _IVF_LISTS, _SQ8_DIM
    from ..sources.io import load_table

    index = f"ivfsq8idx_{_tag(sf_dir)}"
    want = dict(vec_col="embedding", id_col="vec_id",
                n_lists=int(_IVF_LISTS), n_iters=int(_IVF_ITERS),
                storage="sq8", dim=int(_SQ8_DIM))
    return ix.ensure(spark, ix.IVF, index, want, lambda: build_ivf_index(
        load_table(spark, sf_dir, "embeddings"), index, **want))


def ensure_pq_index(spark: SparkSession, sf_dir: str) -> str:
    """Session-amortized build of the gate's persisted PQ index over the
    embeddings table (the ``ann_pq_topk`` parameters;
    ``sources/index.py::ensure``)."""
    from ..operators.ann import build_pq_index
    from ..operators.pipeline_queries import (
        _PQ_CODES,
        _PQ_DIM,
        _PQ_ITERS,
        _PQ_M,
    )
    from ..sources.io import load_table

    index = f"pqidx_{_tag(sf_dir)}"
    want = dict(vec_col="embedding", id_col="vec_id", m=int(_PQ_M),
                n_codes=int(_PQ_CODES), n_iters=int(_PQ_ITERS),
                dim=int(_PQ_DIM))
    return ix.ensure(spark, ix.PQ, index, want, lambda: build_pq_index(
        load_table(spark, sf_dir, "embeddings"), index, **want))


def ensure_ivf_pq_index(spark: SparkSession, sf_dir: str) -> str:
    """Session-amortized build of the gate's persisted IVF-PQ index
    (the ``ann_ivf_pq_topk`` parameters; ``sources/index.py::ensure``)."""
    from ..operators.ann import build_ivf_pq_index
    from ..operators.pipeline_queries import (
        _IVF_ITERS,
        _IVF_LISTS,
        _PQ_CODES,
        _PQ_DIM,
        _PQ_ITERS,
        _PQ_M,
    )
    from ..sources.io import load_table

    index = f"ivfpqidx_{_tag(sf_dir)}"
    want = dict(vec_col="embedding", id_col="vec_id",
                n_lists=int(_IVF_LISTS), cells_iters=int(_IVF_ITERS),
                m=int(_PQ_M), n_codes=int(_PQ_CODES),
                pq_iters=int(_PQ_ITERS), dim=int(_PQ_DIM))
    return ix.ensure(spark, ix.IVF_PQ, index, want,
                     lambda: build_ivf_pq_index(
                         load_table(spark, sf_dir, "embeddings"), index,
                         **want))
