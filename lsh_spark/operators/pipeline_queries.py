"""Training-data pipeline query suite: text analysis, similarity search,
dedup variants, fingerprinting — each a ``queries()`` entry with a DuckDB
oracle wherever SQL can express the semantics.

Oracle-parity rules used throughout:
  * regex features use a Java-regex/RE2-common subset;
  * ratios are double divisions of integer counts (bit-deterministic);
  * cosine uses the same explicit dot/(sqrt·sqrt) formula both sides over
    DOUBLE[], rounded to 6dp before ranking/thresholding;
  * ranking ties break on ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.fingerprint import winnow_fingerprints
from ..oracles import duckdb_lsh as _orc
from ..sources.io import load_table
from . import ann, dedup
from .similarity_join import lsh_dedup_clusters, lsh_dedup_keep_first

_CJK_LO, _CJK_HI = chr(0x4E00), chr(0x9FFF)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.char_count("text").alias("n_chars"),
        T.token_count("text").alias("n_tokens"),
        T.word_token_count("text").alias("n_word_tokens"),
        F.round(T.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(T.digit_ratio("text"), 6).alias("digit_ratio"),
        F.round(T.stopword_ratio("text"), 6).alias("stopword_ratio"),
        F.round(T.avg_token_len("text"), 6).alias("avg_token_len"),
    )


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in T.STOPWORDS) + "]"

TEXT_STATS_ORACLE = f"""
SELECT doc_id,
       length(text) AS n_chars,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) END AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_word_tokens,
       round(CASE WHEN length(text) > 0
             THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / length(text)
             ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN length(text) > 0
             THEN len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text)
             ELSE 0.0 END, 6) AS digit_ratio,
       round(CASE WHEN trim(text) = '' THEN 0.0
             WHEN len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) > 0
             THEN len(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+'),
                                  t -> list_contains({_STOP_SQL}, t))) * 1.0
                  / len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+'))
             ELSE 0.0 END, 6) AS stopword_ratio,
       round(CASE WHEN trim(text) = '' THEN 0.0
             WHEN len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) > 0
             THEN list_sum(list_transform(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+'),
                                          t -> length(t))) * 1.0
                  / len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+'))
             ELSE 0.0 END, 6) AS avg_token_len
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.lang_guess("text").alias("lang_guess"),
        T.quality_score("text").alias("quality"),
    )


_MARKER_SQL = "[" + ", ".join(f"'{s}'" for s in T.SPANISH_MARKERS) + "]"


def _text_quality_oracle(source: str = "documents") -> str:
    """The language-guess + quality-score query over any (doc_id, text)
    source — ``TEXT_QUALITY_ORACLE`` is the ``documents`` instance;
    ``pipeline_clean_v2`` reuses it over rebuilt text."""
    return f"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS n,
         CASE WHEN length(text) > 0
              THEN len(regexp_extract_all(text, '[{_CJK_LO}-{_CJK_HI}]')) * 1.0 / length(text)
              ELSE 0.0 END AS cjk_ratio,
         CASE WHEN trim(text) = '' THEN 0.0
              WHEN len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) > 0
              THEN len(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+'),
                                   t -> list_contains({_MARKER_SQL}, t))) * 1.0
                   / len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+'))
              ELSE 0.0 END AS es_ratio,
         CASE WHEN length(text) > 0
              THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / length(text)
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN length(text) > 0
              THEN len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text)
              ELSE 0.0 END AS digit_ratio,
         CASE WHEN trim(text) = '' THEN 0.0
              WHEN len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) > 0
              THEN len(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+'),
                                   t -> list_contains({_STOP_SQL}, t))) * 1.0
                   / len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+'))
              ELSE 0.0 END AS stopword_ratio
  FROM {source}
)
SELECT doc_id,
       CASE WHEN cjk_ratio > 0.3 THEN 'zh'
            WHEN es_ratio > 0.15 THEN 'es'
            ELSE 'en' END AS lang_guess,
       round(least(n / 200.0, 1.0) * 0.25
             + greatest(0.0, 1.0 - punct_ratio * 4) * 0.25
             + greatest(0.0, 1.0 - digit_ratio * 4) * 0.25
             + least(stopword_ratio * 4, 1.0) * 0.25, 6) AS quality
FROM feats
"""


TEXT_QUALITY_ORACLE = _text_quality_oracle()


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_N_QUERIES = 10
_ANN_K = 10


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann.cosine_topk(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), k=_ANN_K)


ANN_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {_N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
                     AND sqrt(list_dot_product(cv, cv)) > 0
               THEN list_dot_product(qv, cv)
                    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               ELSE 0.0 END, 6) AS cosine_sim
  FROM q CROSS JOIN c
  WHERE query_id != neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= {_ANN_K}
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN; the DuckDB oracle reproduces the bucketing with
    inlined projection tables, so the check is exact (recall additionally
    asserted in tests/test_pipeline.py against brute force)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann.euclidean_lsh_topk(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), k=_ANN_K)


_IVF_LISTS = 8
_IVF_PROBE = 4
_IVF_ITERS = 2


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer — deterministic fixed-point
    Lloyd's KMeans (2 assign/update rounds from lowest-id init), so unlike
    the MLlib-KMeans variant (``ann.ivf_topk``, recall-tested in pytest)
    the whole index is bit-exactly reproduced by the DuckDB oracle:
    hash-match, not rows-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann.ivf_lloyd_topk(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), k=_ANN_K,
        n_lists=_IVF_LISTS, n_probe=_IVF_PROBE, n_iters=_IVF_ITERS)


def ann_ivf_flat_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the training-free quantizer (lowest-id vectors as
    centroids): same index structure as ``ann_ivf_topk`` but every step is
    deterministic, so the DuckDB oracle reproduces cells, probes and
    rerank bit-for-bit (hash-match instead of rows-only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann.ivf_flat_topk(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), k=_ANN_K,
        n_lists=_IVF_LISTS, n_probe=_IVF_PROBE)


# squared L2 via the dot identity in the EXACT op sequence the Spark side
# uses ((aa - (2*ab)) + bb over DOUBLE[]) — see ann._sqdist_mirror
_SQDIST = ("(list_dot_product({a}, {a}) - (2.0 * list_dot_product({a}, {b})))"
           " + list_dot_product({b}, {b})")

ANN_IVF_FLAT_ORACLE = f"""
WITH cent0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
  ORDER BY vec_id LIMIT {_IVF_LISTS}
),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, cv FROM cent0
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < {_N_QUERIES}),
c_assign AS (
  SELECT neighbor_id, v, cell,
         row_number() OVER (
           PARTITION BY neighbor_id
           ORDER BY {_SQDIST.format(a='v', b='cv')} ASC, cell ASC) AS r
  FROM c CROSS JOIN cent
),
c_cells AS (SELECT neighbor_id, v, cell FROM c_assign WHERE r = 1),
probes AS (
  SELECT query_id, v, cell FROM (
    SELECT query_id, v, cell,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY {_SQDIST.format(a='v', b='cv')} ASC, cell ASC) AS r
    FROM q CROSS JOIN cent
  ) WHERE r <= {_IVF_PROBE}
),
scored AS (
  SELECT p.query_id, cc.neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(p.v, p.v)) > 0
                     AND sqrt(list_dot_product(cc.v, cc.v)) > 0
               THEN list_dot_product(p.v, cc.v)
                    / (sqrt(list_dot_product(p.v, p.v))
                       * sqrt(list_dot_product(cc.v, cc.v)))
               ELSE 0.0 END, 6) AS cosine_sim
  FROM probes p JOIN c_cells cc USING (cell)
  WHERE p.query_id != cc.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= {_ANN_K}
"""


def _lloyd_cell_ctes(n_lists: int, n_iters: int, *, sfx: str = "",
                     vexpr: str = "embedding::DOUBLE[]") -> list:
    """CTE prefix shared by the IVF search oracle, the index-stats
    oracle and (per-subspace, via ``sfx``/``vexpr``) the PQ oracle:
    deterministic Lloyd training unrolled ``n_iters`` times, ending at
    ``c_cells{sfx}(neighbor_id, v, cell)`` — the full corpus's cell
    assignment under the trained quantizer.  ``vexpr`` is the vector
    expression over ``embeddings`` (a slice for PQ subspaces); ``sfx``
    suffixes every CTE name so chains compose in one WITH."""
    ctes = [
        f"""cent_init{sfx} AS (
  SELECT vec_id, {vexpr} AS cv FROM embeddings
  ORDER BY vec_id LIMIT {n_lists}
)""",
        f"""cent_0{sfx} AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, cv FROM cent_init{sfx}
)""",
        f"""corpus{sfx} AS (SELECT vec_id, {vexpr} AS v FROM embeddings)""",
    ]
    for i in range(n_iters):
        ctes.append(f"""assign_{i}{sfx} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, ct.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_SQDIST.format(a='e.v', b='ct.cv')} ASC,
                      ct.cell ASC) AS r
    FROM corpus{sfx} e CROSS JOIN cent_{i}{sfx} ct
  ) WHERE r = 1
)""")
        ctes.append(f"""sums_{i}{sfx} AS (
  SELECT cell, pos,
         sum(CAST(floor(val * 1048576.0 + 0.5) AS BIGINT)) AS s,
         count(*) AS n
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS val
        FROM assign_{i}{sfx})
  GROUP BY cell, pos
)""")
        ctes.append(f"""newcent_{i}{sfx} AS (
  SELECT cell, list((s::DOUBLE / n::DOUBLE) / 1048576.0 ORDER BY pos) AS cv
  FROM sums_{i}{sfx} GROUP BY cell
)""")
        ctes.append(f"""cent_{i + 1}{sfx} AS (
  SELECT c.cell, coalesce(n.cv, c.cv) AS cv
  FROM cent_{i}{sfx} c LEFT JOIN newcent_{i}{sfx} n USING (cell)
)""")
    cent = f"cent_{n_iters}{sfx}"
    ctes.append(f"""c_assign{sfx} AS (
  SELECT vec_id AS neighbor_id, v, cell,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY {_SQDIST.format(a='v', b='cv')} ASC, cell ASC) AS r
  FROM corpus{sfx} CROSS JOIN {cent}
)""")
    ctes.append(f"""c_cells{sfx} AS (SELECT neighbor_id, v, cell FROM c_assign{sfx} WHERE r = 1)""")
    return ctes


def _lloyd_oracle(n_lists: int, n_probe: int, n_iters: int,
                  n_queries: int, k: int) -> str:
    """Unrolled-iteration DuckDB mirror of ``ann.ivf_lloyd_topk``.

    Centroid means run in the same 2^20 fixed-point as the Spark side:
    floor(val*S + 0.5) → exact integer sums (order-independent, so the
    engines agree bit-for-bit despite different reduction orders) →
    ``(s/n)/S`` in one fixed op sequence.  Assignment/probe distances use
    the shared ``(aa - 2ab) + bb`` expression; ties break on cell id."""
    ctes = _lloyd_cell_ctes(n_lists, n_iters)
    cent = f"cent_{n_iters}"
    ctes.append(f"""q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < {n_queries})""")
    ctes.append(f"""probes AS (
  SELECT query_id, v, cell FROM (
    SELECT query_id, v, cell,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY {_SQDIST.format(a='v', b='cv')} ASC, cell ASC) AS r
    FROM q CROSS JOIN {cent}
  ) WHERE r <= {n_probe}
)""")
    ctes.append("""scored AS (
  SELECT p.query_id, cc.neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(p.v, p.v)) > 0
                     AND sqrt(list_dot_product(cc.v, cc.v)) > 0
               THEN list_dot_product(p.v, cc.v)
                    / (sqrt(list_dot_product(p.v, p.v))
                       * sqrt(list_dot_product(cc.v, cc.v)))
               ELSE 0.0 END, 6) AS cosine_sim
  FROM probes p JOIN c_cells cc USING (cell)
  WHERE p.query_id != cc.neighbor_id
)""")
    ctes.append("""ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT query_id, neighbor_id, cosine_sim, rank"
              f" FROM ranked WHERE rank <= {k}")


ANN_IVF_LLOYD_ORACLE = _lloyd_oracle(
    _IVF_LISTS, _IVF_PROBE, _IVF_ITERS, _N_QUERIES, _ANN_K)


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------

def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column multimodal pipeline through the driver gate: documents
    synthesized into (media_id, kind, content BINARY) blobs, then the
    mapInPandas feature extractor.  The deterministic fake decoder derives
    metadata from the content's sha256, which DuckDB can reproduce exactly
    — so the whole binary-column plumbing (schema, batching, decode
    dispatch) is hash-checked, not just pytest-checked."""
    from ..multimodal.media import extract_features, synthesize_media_from_documents

    docs = load_table(spark, sf_dir, "documents")
    return extract_features(synthesize_media_from_documents(docs))


def media_raw_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL-decode multimodal path through the driver gate: documents
    synthesized into RAWI/RAWA/RAWV blobs (documented uncompressed
    formats), then genuinely decoded — header parse + payload validation,
    no digest fakery.  Every output column is doc_id/text arithmetic the
    DuckDB oracle reproduces exactly."""
    from ..multimodal.media import (
        extract_features,
        synthesize_raw_media_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return extract_features(synthesize_raw_media_from_documents(docs)).select(
        "media_id", "kind", "n_bytes", "width", "height", "n_frames")


MEDIA_RAW_FEATURES_ORACLE = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       (CASE doc_id % 3
         WHEN 0 THEN 9 + (8 + doc_id % 9) * (8 + (doc_id * 3) % 7) * 3
         WHEN 1 THEN 12 + 2 * (100 + (doc_id * 7) % 500)
         ELSE 10 + (6 + doc_id % 5) * (4 + doc_id % 4) * (2 + doc_id % 5)
       END)::BIGINT AS n_bytes,
       (CASE doc_id % 3 WHEN 0 THEN 8 + doc_id % 9
             WHEN 1 THEN NULL ELSE 6 + doc_id % 5 END)::INT AS width,
       (CASE doc_id % 3 WHEN 0 THEN 8 + (doc_id * 3) % 7
             WHEN 1 THEN NULL ELSE 4 + doc_id % 4 END)::INT AS height,
       (CASE doc_id % 3 WHEN 0 THEN 1
             WHEN 1 THEN 100 + (doc_id * 7) % 500
             ELSE 2 + doc_id % 5 END)::INT AS n_frames
FROM documents
"""


MEDIA_FEATURES_ORACLE = """
WITH f AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         octet_length(encode(text))::BIGINT AS n_bytes,
         sha256(text) AS digest
  FROM documents
),
d AS (
  SELECT *,
         ('0x' || substring(digest, 1, 2))::INT AS b0,
         ('0x' || substring(digest, 3, 2))::INT AS b1,
         ('0x' || substring(digest, 5, 2))::INT AS b2,
         ('0x' || substring(digest, 7, 2))::INT AS b3
  FROM f
)
SELECT media_id, kind, n_bytes, digest,
       (CASE WHEN kind IN ('image', 'video') THEN 16 + b0 % 64 END)::INT AS width,
       (CASE WHEN kind IN ('image', 'video') THEN 16 + b1 % 64 END)::INT AS height,
       (CASE kind WHEN 'image' THEN 1 WHEN 'video' THEN 1 + b2
             ELSE 1 + b3 * 100 END)::INT AS n_frames
FROM d
"""


# ---------------------------------------------------------------------------
# dedup variants
# ---------------------------------------------------------------------------

def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.normalized_dup_groups(docs, "text", "doc_id")


DEDUP_NORMALIZED_ORACLE = """
SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
FROM documents
GROUP BY trim(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))
HAVING count(*) > 1
"""


# synthetic embeddings top out at cosine ~0.51 — 0.4 yields a real
# (non-empty) result set for the oracle comparison
_EMB_DUP_THRESHOLD = 0.4


def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_dup_pairs(
        emb, threshold=_EMB_DUP_THRESHOLD, sample_max_id=500)


EMB_DUP_ORACLE = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE vec_id < 500)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                   AND sqrt(list_dot_product(b.v, b.v)) > 0
             THEN list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             ELSE 0.0 END, 6) AS cosine_sim
FROM base a JOIN base b ON a.vec_id < b.vec_id
WHERE round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                  AND sqrt(list_dot_product(b.v, b.v)) > 0
            THEN list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
            ELSE 0.0 END, 6) >= {_EMB_DUP_THRESHOLD}
"""


def embedding_near_dup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via Euclidean-LSH bucket blocking + exact
    cosine verify — the full-corpus scale path next to the bounded
    brute-force ``embedding_dup_pairs`` baseline; exact DuckDB oracle
    (same inlined projection tables as the signature oracles)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_lsh(
        emb, threshold=_EMB_DUP_THRESHOLD, bucket_width=2.0, band_count=8,
        band_size=1, seed=123)


def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-≤3 pairs (FxHash token signatures; exact DuckDB
    oracle via splitmix-spread token hashes)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(docs, "text", id_col="doc_id",
                                        max_hamming=3)


def dedup_keep_first_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup retention set via banded MinHash; exact DuckDB oracle
    (drop docs verified-similar to any lower id).  Returns survivors."""
    docs = load_table(spark, sf_dir, "documents")
    # high-threshold retention policy: r=6 bands make banding selective
    # (P(collide | j=0.45 background) ≈ 5% vs 83% at r=2), so candidate
    # verification stays ~20× cheaper than the exhaustive pairs query.
    # Set re-attachment is left to AQE (no unconditional broadcast).
    kept = lsh_dedup_keep_first(
        docs, "text", id_col="doc_id", ngram_width=3,
        band_count=8, band_size=6, seed=123, threshold=0.8)
    return kept.select("doc_id", "lang", "source")


def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-free cluster dedup (connected components over band buckets —
    the corpus-scale path).  The DuckDB oracle computes true CC via a
    recursive CTE; label-propagation's fixed point must agree.  Labels
    come from the session-amortized ``ensure_cluster_labels`` table —
    four gates share one CC run (a fresh driver session builds it on
    first use, so the correctness surface is unchanged)."""
    return spark.table(ensure_cluster_labels(spark, sf_dir)).select(
        "doc_id", "cluster_id", "is_representative")


def kmv_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch distinct-ngram estimates per document (deterministic;
    exact DuckDB oracle — accuracy property-tested in tests/test_sketch.py)."""
    from ..functions.sketch import kmv_distinct_estimate, kmv_sketch_col

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        kmv_sketch_col("text", ngram_width=3, k=64).alias("__sk"),
    ).select(
        "doc_id",
        F.col("__sk.n_total").alias("n_distinct_ngrams"),
        F.round(kmv_distinct_estimate("__sk", k=64), 4).alias("kmv_estimate"),
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints per document, exploded to one scalar row per
    fingerprint ``(doc_id, pos, fingerprint)`` so the driver canonicalizer
    can hash the output (rows-only: FxHash-based)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(winnow_fingerprints("text", kgram=5, window=4))
        .alias("pos", "fingerprint"),
    )


def distinct_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct char-3-gram count per document — the exact companion
    to ``kmv_doc_stats``'s estimate, computed as a pure JVM expression
    (transform over sequence + array_distinct; no Python UDF) with a
    DuckDB substring oracle."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.when(F.length("text") < 3, F.lit(0)).otherwise(
        F.expr("size(array_distinct(transform("
               "sequence(1, length(text) - 2), i -> substring(text, i, 3))))"))
    return docs.select("doc_id", n.cast("long").alias("n_distinct_ngrams"))


DISTINCT_NGRAMS_ORACLE = """
WITH e AS (
  SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
  FROM documents
),
g AS (
  SELECT doc_id, count(DISTINCT substring(text, i, 3)) AS n FROM e GROUP BY 1
)
SELECT d.doc_id, coalesce(g.n, 0)::BIGINT AS n_distinct_ngrams
FROM documents d LEFT JOIN g USING (doc_id)
"""


QUERIES = {
    "text_stats": (text_stats, TEXT_STATS_ORACLE),
    "text_quality": (text_quality, TEXT_QUALITY_ORACLE),
    "ann_topk": (ann_topk, ANN_TOPK_ORACLE),
    "ann_lsh_topk": (
        ann_lsh_topk,
        _orc.ann_lsh_topk_sql(2.0, 8, 1, 123, 64, k=_ANN_K,
                              n_queries=_N_QUERIES)),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_LLOYD_ORACLE),
    "ann_ivf_flat_topk": (ann_ivf_flat_topk, ANN_IVF_FLAT_ORACLE),
    "dedup_normalized": (dedup_normalized, DEDUP_NORMALIZED_ORACLE),
    "embedding_dup_pairs": (embedding_dup_pairs, EMB_DUP_ORACLE),
    "embedding_near_dup_lsh_pairs": (
        embedding_near_dup_lsh_pairs,
        _orc.embedding_near_dup_lsh_sql(2.0, 8, 1, 123, 64,
                                        _EMB_DUP_THRESHOLD)),
    "simhash_near_dup_pairs": (simhash_near_dup_pairs,
                               _orc.simhash_pairs_sql(3)),
    "dedup_keep_first_minhash": (
        dedup_keep_first_minhash,
        _orc.dedup_keep_first_sql(3, 8, 6, 123, 0.8)),
    "dedup_clusters_minhash": (dedup_clusters_minhash,
                               _orc.dedup_clusters_sql(3, 6, 6, 123)),
    "doc_fingerprints": (doc_fingerprints, _orc.doc_fingerprints_sql(5, 4)),
    "distinct_ngram_counts": (distinct_ngram_counts, DISTINCT_NGRAMS_ORACLE),
    "kmv_doc_stats": (kmv_doc_stats, _orc.kmv_doc_stats_sql(3, 64)),
    "media_features": (media_features, MEDIA_FEATURES_ORACLE),
    "media_raw_features": (media_raw_features, MEDIA_RAW_FEATURES_ORACLE),
}


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per document over whitespace tokens: tf = term count /
    doc length (int ratio), idf = ln(n_docs / df) — top-5 terms per doc.

    ln() differs from DuckDB's libm in the last ulp for ~2% of inputs
    (measured), so scores are rounded to 6dp before ranking/output —
    empirically bit-identical across engines (same strategy as cosine)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    # n_docs stays INSIDE the job as a broadcast single-row aggregate — a
    # driver-side docs.count() here would be a second full scan of the
    # fact table at scale just to build the plan
    n_docs = F.broadcast(docs.agg(F.count(F.lit(1)).alias("__n_docs")))
    terms = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), "\\s+"))
        .alias("term"),
    ).where(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("n_t"))
    doc_len = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_d"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(doc_len, on="doc_id")
        .join(df_t, on="term")
        .crossJoin(n_docs)
        .withColumn(
            "tfidf",
            F.round(
                (F.col("n_t").cast("double") / F.col("n_d").cast("double"))
                * F.log(F.col("__n_docs").cast("double")
                        / F.col("df").cast("double")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("doc_id", "term", "tfidf", "rank")
    )


TFIDF_ORACLE = """
WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+')) AS term
  FROM documents
),
t2 AS (SELECT doc_id, term FROM terms WHERE term != ''),
tf AS (SELECT doc_id, term, count(*) AS n_t FROM t2 GROUP BY 1, 2),
doc_len AS (SELECT doc_id, count(*) AS n_d FROM t2 GROUP BY 1),
df_t AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round((tf.n_t * 1.0 / doc_len.n_d)
               * ln((SELECT n_docs FROM n) * 1.0 / df_t.df), 6) AS tfidf
  FROM tf JOIN doc_len USING (doc_id) JOIN df_t USING (term)
)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
WHERE rank <= 5
"""


QUERIES["tfidf_top_terms"] = (tfidf_top_terms, TFIDF_ORACLE)


# ---------------------------------------------------------------------------
# composite clean-corpus pipeline (the end-to-end training-data shape)
# ---------------------------------------------------------------------------

_CLEAN_Q_MIN = 0.75
# near-dedup at jaccard 0.7 (the README join threshold): this corpus's
# 0.45-median similarity background makes 0.6 pathological — 10% of ALL
# clean-subset pairs verify at 0.6 — while 0.7 keeps the blocking
# selective; banding comes from the same tuner plan the A/B join uses
_CLEAN_THRESHOLD = 0.7


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus cleaning pipeline as ONE composed job —
    what a user of this engine actually runs at 100 TB:

      1. enrich: language guess + quality score + token count
         (pure JVM expressions, one scan);
      2. filter: keep English prose above the quality floor;
      3. exact dedup: lowest doc_id per identical text survives
         (one hash-aggregate);
      4. near-dedup: MinHash keep-first over the survivors
         (tuner-selected banding, ids-only blocking join).

    Every stage is lazy, so Catalyst fuses 1-3 into a single scan+filter
    ahead of the shingle pass — the near-dedup only ever sees the cleaned
    subset.  Returns (doc_id, lang_guess, quality, n_tokens) of surviving
    documents."""
    from ..sources.io import fanout_scan
    from .lsh_queries import _JOIN_AB_PLAN

    # the enrichment scan is regex-CPU-bound: spread a single-file scan
    # across the cluster before computing features
    docs = fanout_scan(load_table(spark, sf_dir, "documents"))
    enriched = docs.select(
        "doc_id", "text",
        T.lang_guess("text").alias("lang_guess"),
        T.quality_score("text").alias("quality"),
        T.token_count("text").alias("n_tokens"),
    )
    kept = enriched.where(
        (F.col("lang_guess") == "en") & (F.col("quality") >= _CLEAN_Q_MIN))
    # keep-first exact dedup through the digest-pregroup helper: the
    # cleaned corpus's text is never a corpus-wide shuffle key
    from .dedup import exact_dedup

    exact = exact_dedup(kept, "text", "doc_id")
    # materialize the cleaned corpus once: three downstream branches (the
    # shingle pass, the pair blocking, the survivor anti-join) would each
    # re-run the regex-heavy enrichment scan otherwise — the in-job
    # equivalent of checkpointing the cleaned corpus between pipeline
    # stages, which a production run does with a parquet write anyway
    from ..plans.cache import track
    from pyspark import StorageLevel

    track(exact.persist(StorageLevel.MEMORY_AND_DISK))
    survivors = lsh_dedup_keep_first(
        exact, "text", id_col="doc_id", ngram_width=3,
        band_count=_JOIN_AB_PLAN.band_count,
        band_size=_JOIN_AB_PLAN.band_size,
        seed=123, threshold=_CLEAN_THRESHOLD)
    return survivors.select("doc_id", "lang_guess", "quality", "n_tokens")


def _clean_corpus_oracle() -> str:
    from .lsh_queries import _JOIN_AB_PLAN

    return f"""
WITH feats AS (
  SELECT doc_id, text,
         length(text) AS n,
         CASE WHEN length(text) > 0
              THEN len(regexp_extract_all(text, '[{_CJK_LO}-{_CJK_HI}]')) * 1.0 / length(text)
              ELSE 0.0 END AS cjk_ratio,
         CASE WHEN trim(text) = '' THEN 0.0
              WHEN len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) > 0
              THEN len(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+'),
                                   t -> list_contains({_MARKER_SQL}, t))) * 1.0
                   / len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+'))
              ELSE 0.0 END AS es_ratio,
         CASE WHEN length(text) > 0
              THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / length(text)
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN length(text) > 0
              THEN len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text)
              ELSE 0.0 END AS digit_ratio,
         CASE WHEN trim(text) = '' THEN 0.0
              WHEN len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) > 0
              THEN len(list_filter(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+'),
                                   t -> list_contains({_STOP_SQL}, t))) * 1.0
                   / len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+'))
              ELSE 0.0 END AS stopword_ratio,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) END AS n_tokens
  FROM documents
),
q AS (
  SELECT doc_id, text, n_tokens,
         CASE WHEN cjk_ratio > 0.3 THEN 'zh'
              WHEN es_ratio > 0.15 THEN 'es'
              ELSE 'en' END AS lang_guess,
         round(least(n / 200.0, 1.0) * 0.25
               + greatest(0.0, 1.0 - punct_ratio * 4) * 0.25
               + greatest(0.0, 1.0 - digit_ratio * 4) * 0.25
               + least(stopword_ratio * 4, 1.0) * 0.25, 6) AS quality
  FROM feats
),
clean0 AS (
  SELECT doc_id AS id, text FROM q
  WHERE lang_guess = 'en' AND quality >= {_CLEAN_Q_MIN}
),
clean AS (
  SELECT id, text FROM clean0
  WHERE id IN (SELECT min(id) FROM clean0 GROUP BY text)
),
{_orc.char_shingles_cte(3, source="clean", id_col="id", text_col="text")},
{_orc.minhash_bands_ctes(_JOIN_AB_PLAN.band_count, _JOIN_AB_PLAN.band_size, 123)},
{_orc.pair_verify_ctes(_CLEAN_THRESHOLD)}
SELECT q.doc_id, q.lang_guess, q.quality, q.n_tokens::BIGINT AS n_tokens
FROM clean c JOIN q ON c.id = q.doc_id
WHERE c.id NOT IN (SELECT id_b FROM ver)
"""


QUERIES["clean_corpus"] = (clean_corpus, _clean_corpus_oracle())


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (late registration: keeps earlier registry
# positions — and their driver-row history — stable)
# ---------------------------------------------------------------------------

_SEM_LISTS = 32


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup over the embeddings table: cluster
    with the deterministic training-free quantizer, keep within each cell
    only vectors with no lower-id cell-mate at cosine ≥ threshold.  The
    whole index — cells, candidate pairs, verdicts — reproduces in the
    DuckDB oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup_cells(
        emb, n_lists=_SEM_LISTS, threshold=_EMB_DUP_THRESHOLD)


SEMANTIC_DEDUP_ORACLE = f"""
WITH cent0 AS (
  SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
  ORDER BY vec_id LIMIT {_SEM_LISTS}
),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, cv FROM cent0
),
base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
assign AS (
  SELECT vec_id, v, cell,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY {_SQDIST.format(a='v', b='cv')} ASC, cell ASC) AS r
  FROM base CROSS JOIN cent
),
cells AS (SELECT vec_id, v, cell FROM assign WHERE r = 1),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) > 0
                    AND sqrt(list_dot_product(b.v, b.v)) > 0
              THEN list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v)))
              ELSE 0.0 END, 6) >= {_EMB_DUP_THRESHOLD}
)
SELECT c.vec_id, c.cell::INT AS cell,
       c.vec_id NOT IN (SELECT vec_id FROM dropped) AS is_representative
FROM cells c
"""


QUERIES_LATE = {
    "semantic_dedup": (semantic_dedup, SEMANTIC_DEDUP_ORACLE),
}


def documents_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-emulation gate query: apply a deterministic revision delta to
    the corpus (every ``doc_id % 7 == 0`` document gets a revised text;
    every ``doc_id % 97 == 0`` spawns a new document at ``id + 1e6``) and
    return the resulting snapshot — the incremental-corpus primitive
    (``operators.merge.upsert``: broadcast anti-join + union, no shuffle
    beyond the join)."""
    from .merge import upsert

    docs = load_table(spark, sf_dir, "documents")
    revisions = (
        docs.where(F.col("doc_id") % 7 == 0)
        .withColumn("text", F.concat(F.col("text"), F.lit(" [rev2]")))
    )
    inserts = (
        docs.where(F.col("doc_id") % 97 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("text", F.concat(F.lit("new: "), F.col("text")))
    )
    merged = upsert(docs, revisions.unionByName(inserts), "doc_id")
    return merged.select(
        "doc_id", "lang", "source",
        F.length("text").cast("long").alias("n_chars_after"))


DOCUMENTS_UPSERT_ORACLE = """
WITH revisions AS (
  SELECT doc_id, text || ' [rev2]' AS text, lang, source, n_chars
  FROM documents WHERE doc_id % 7 = 0
),
inserts AS (
  SELECT doc_id + 1000000 AS doc_id, 'new: ' || text AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 97 = 0
),
updates AS (
  SELECT * FROM revisions UNION ALL SELECT * FROM inserts
),
merged AS (
  SELECT * FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM updates)
  UNION ALL SELECT * FROM updates
)
SELECT doc_id, lang, source, length(text)::BIGINT AS n_chars_after
FROM merged
"""


QUERIES_LATE["documents_upsert"] = (documents_upsert,
                                    DOCUMENTS_UPSERT_ORACLE)


def media_container_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTAINER-codec multimodal path through the driver gate:
    documents synthesized into real 24-bit BMP / PCM16 WAV /
    multi-frame GIF blobs, then genuinely decoded by the pure-stdlib
    codecs (``multimodal.containers``) — the GIF frame count comes from
    actually walking LZW-compressed image blocks.  n_bytes is excluded
    (GIF's LZW length is not SQL-predictable); every emitted column is
    doc_id arithmetic the DuckDB oracle reproduces exactly."""
    from ..multimodal.media import (
        extract_features,
        synthesize_container_media_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return extract_features(
        synthesize_container_media_from_documents(docs)
    ).select("media_id", "kind", "width", "height", "n_frames")


MEDIA_CONTAINER_FEATURES_ORACLE = """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       (CASE doc_id % 3 WHEN 0 THEN 5 + doc_id % 9
             WHEN 1 THEN NULL ELSE 4 + doc_id % 5 END)::INT AS width,
       (CASE doc_id % 3 WHEN 0 THEN 4 + (doc_id * 3) % 7
             WHEN 1 THEN NULL ELSE 3 + doc_id % 4 END)::INT AS height,
       (CASE doc_id % 3 WHEN 0 THEN 1
             WHEN 1 THEN 50 + (doc_id * 7) % 300
             ELSE 1 + doc_id % 4 END)::INT AS n_frames
FROM documents
"""

QUERIES_LATE["media_container_features"] = (media_container_features,
                                            MEDIA_CONTAINER_FEATURES_ORACLE)


# ---------------------------------------------------------------------------
# perceptual image hashing (dHash) — gate corpus is the gradient-BMP
# synthesizer, whose pixels are pure doc_id arithmetic: the nearest-
# neighbor 9×8 resample inside ``phash._dhash_pixels`` samples gray value
# (doc_id*7 + 13*x + 31*y) % 256 at x = (c*w)//9, y = (r*h)//8, so every
# signature bit — and therefore the packed BIGINT and the Hamming pairs —
# is a closed-form function of doc_id the DuckDB oracle evaluates without
# decoding a single byte, while the Spark side genuinely round-trips
# through the BMP codec and the shared decode chain.
# ---------------------------------------------------------------------------

_DHASH_PAIR_MAX_HAMMING = 2


def _dhash_sigs_cte(dims_sql: str, gray) -> str:
    """CTE text computing the exact dHash BIGINT per image (two 32-bit
    halves summed in HUGEINT, then two's-complement to signed 64 — the
    same u64→int64 idiom as the MinHash oracles).  ``dims_sql`` must
    yield (doc_id, w, h, …) rows; ``gray(c, r)`` the sampled gray-value
    SQL at dHash grid column ``c`` (0..8) / row ``r`` (0..7)."""
    lo_terms, hi_terms = [], []
    for i in range(64):
        r, c = divmod(i, 8)
        cond = f"{gray(c + 1, r)} > {gray(c, r)}"
        if i < 32:
            lo_terms.append(f"CASE WHEN {cond} THEN {1 << i} ELSE 0 END")
        else:
            hi_terms.append(f"CASE WHEN {cond} THEN {1 << (i - 32)} ELSE 0 END")
    lo = " + ".join(lo_terms)
    hi = " + ".join(hi_terms)
    return f"""
dims AS ({dims_sql}),
halves AS (
  SELECT doc_id, ({lo})::HUGEINT AS lo, ({hi})::HUGEINT AS hi FROM dims
),
sigs AS (
  SELECT doc_id AS media_id,
         (CASE WHEN lo + hi * 4294967296 >= 9223372036854775808
               THEN lo + hi * 4294967296 - 18446744073709551616
               ELSE lo + hi * 4294967296 END)::BIGINT AS dhash
  FROM halves
)"""


def _dhash_gradient_sigs_cte() -> str:
    """Signature CTE for the gradient corpus
    (``synthesize_gradient_images_from_documents``)."""

    def gray(c: int, r: int) -> str:
        # gray value sampled at grid column c (0..8), grid row r (0..7)
        return (f"((doc_id*7 + 13*(({c} * w) // 9)"
                f" + 31*(({r} * h) // 8)) % 256)")

    return _dhash_sigs_cte(
        "SELECT doc_id, 9 + doc_id % 7 AS w, 8 + (doc_id * 3) % 5 AS h"
        "\n  FROM documents", gray)


_DHASH_N_GROUPS = 25


def _dhash_group_sigs_cte() -> str:
    """Signature CTE for the grouped near-dup corpus
    (``synthesize_image_groups_from_documents``): every doc in a
    ``doc_id % 25`` group carries an identical nonlinear-pattern image,
    so signatures are well-separated ACROSS groups (the x·y term breaks
    the gradient corpus's chained self-similarity) and identical within
    them."""

    def gray(c: int, r: int) -> str:
        xs, ys = f"(({c} * w) // 9)", f"(({r} * h) // 8)"
        return f"((g*53 + 13*{xs} + 31*{ys} + 7*{xs}*{ys}) % 256)"

    g = f"doc_id % {_DHASH_N_GROUPS}"
    return _dhash_sigs_cte(
        f"SELECT doc_id, {g} AS g, 9 + ({g}) % 7 AS w,"
        f" 8 + (({g}) * 3) % 5 AS h\n  FROM documents", gray)


def image_dhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash gate query #1: dHash signatures over REAL BMP
    decode (``multimodal.phash.dhash_images``) of the gradient corpus —
    the oracle predicts all 64 bits arithmetically."""
    from ..multimodal.media import synthesize_gradient_images_from_documents
    from ..multimodal.phash import dhash_images

    docs = load_table(spark, sf_dir, "documents")
    return dhash_images(synthesize_gradient_images_from_documents(docs))


IMAGE_DHASH_SIGNATURES_ORACLE = f"""
WITH {_dhash_gradient_sigs_cte()}
SELECT media_id, dhash FROM sigs
"""


def image_dhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash gate query #2: image pairs within Hamming distance
    {_DHASH_PAIR_MAX_HAMMING} of each other's dHash — the generalized
    pigeonhole blocking (``operators.hamming``) end-to-end, verified by
    the oracle's exact all-pairs ``bit_count(xor(...))`` self-join."""
    from ..multimodal.media import synthesize_gradient_images_from_documents
    from ..multimodal.phash import image_near_dup_pairs
    from ..sources.io import fanout_scan

    # fan the single-file scan out BEFORE the synth+decode chain (pure
    # per-row doc_id math, so the repartition is result-neutral): the
    # BMP encode+decode+dhash pass otherwise runs as one 1.75 s task at
    # sf0.1 (interleaved A/B: 4.33 -> 2.95 s min-vs-min).  Deliberately
    # NOT applied to image_dhash_clusters — its iterative CC rounds pay
    # a per-partition fixed cost that outweighs the decode spread
    # (A/B-measured 2.81 -> 4.96 s regression), and fanning docs here
    # keeps media bytes out of the shuffle (the media design contract).
    docs = fanout_scan(load_table(spark, sf_dir, "documents"))
    return image_near_dup_pairs(
        synthesize_gradient_images_from_documents(docs),
        max_hamming=_DHASH_PAIR_MAX_HAMMING,
    )


IMAGE_DHASH_PAIRS_ORACLE = f"""
WITH {_dhash_gradient_sigs_cte()}
SELECT a.media_id AS id_a, b.media_id AS id_b,
       bit_count(xor(a.dhash, b.dhash))::INT AS hamming
FROM sigs a JOIN sigs b ON a.media_id < b.media_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= {_DHASH_PAIR_MAX_HAMMING}
"""


def image_dhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash gate query #3: PAIR-FREE image cluster dedup
    (``multimodal.phash.image_dedup_clusters`` — the shared min-label CC
    core over Hamming block collisions) vs a true-connected-components
    recursive-reachability oracle over the closed-form signatures.
    Runs on the GROUPED corpus — the gradient corpus's structured
    self-similarity chains every image into one component under
    unverified single-linkage (measured: 1 cluster at 500 images),
    which is exactly the known precision trade of block-collision
    clustering on adversarially self-similar data, not a useful gate."""
    from ..multimodal.media import synthesize_image_groups_from_documents
    from ..multimodal.phash import image_dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    return image_dedup_clusters(
        synthesize_image_groups_from_documents(docs),
        max_hamming=_DHASH_PAIR_MAX_HAMMING,
    )


# block constants for max_hamming=2: divmod(64, 3) → widths [22, 21, 21]
# at offsets [0, 22, 43] — must mirror operators.hamming.hamming_blocks
IMAGE_DHASH_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_dhash_group_sigs_cte()},
u AS (
  SELECT media_id,
         (CASE WHEN dhash < 0
               THEN dhash::HUGEINT + 18446744073709551616
               ELSE dhash::HUGEINT END) AS uv
  FROM sigs
),
blocks AS (
  SELECT media_id, 0 AS bi, (uv % 4194304) AS bv FROM u
  UNION ALL
  SELECT media_id, 1, ((uv // 4194304) % 2097152) FROM u
  UNION ALL
  SELECT media_id, 2, (uv // 8796093022208) FROM u
),
edges AS (
  SELECT DISTINCT a.media_id AS src, b.media_id AS dst
  FROM blocks a JOIN blocks b
    ON a.bi = b.bi AND a.bv = b.bv AND a.media_id != b.media_id
),
reach(id, r) AS (
  SELECT media_id, media_id FROM u
  UNION
  SELECT e.src, w.r FROM edges e JOIN reach w ON w.id = e.dst
)
SELECT id AS media_id, min(r) AS cluster_id,
       (id = min(r)) AS is_representative
FROM reach GROUP BY id
"""


QUERIES_LATE["image_dhash_signatures"] = (image_dhash_signatures,
                                          IMAGE_DHASH_SIGNATURES_ORACLE)
QUERIES_LATE["image_dhash_near_dup_pairs"] = (image_dhash_near_dup_pairs,
                                              IMAGE_DHASH_PAIRS_ORACLE)
QUERIES_LATE["image_dhash_clusters"] = (image_dhash_clusters,
                                        IMAGE_DHASH_CLUSTERS_ORACLE)


# ---------------------------------------------------------------------------
# PII scrub — the corpus has no real PII, so the gate plants it
# deterministically (doc_id arithmetic both sides: an email for every
# even doc, an IPv4 for every doc_id % 3 == 0, a phone for every doc),
# then counts and redacts with the shared Java/RE2-common patterns.
# ---------------------------------------------------------------------------

def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub gate query: plant deterministic emails / IPv4s / phone
    numbers into the corpus, then count and redact them
    (``functions.pii``) — all JVM ``regexp_count`` / ``regexp_replace``,
    a pure per-row map with no shuffle at any scale."""
    from ..functions import pii

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    planted = docs.select(
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
    return planted.select(
        "doc_id",
        pii.email_count("text").alias("n_emails"),
        pii.ipv4_count("text").alias("n_ips"),
        pii.phone_count("text").alias("n_phones"),
        pii.redact_pii("text").alias("clean_text"),
    )


PII_SCRUB_STATS_ORACLE = r"""
WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN ' contact user' || doc_id || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' from 10.' || (doc_id % 256) || '.0.'
                      || ((doc_id * 7) % 256)
                 ELSE '' END
         || ' call 555-' || lpad(((doc_id * 13) % 1000)::VARCHAR, 3, '0')
         || '-' || lpad(((doc_id * 29) % 10000)::VARCHAR, 4, '0') AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT
           AS n_emails,
       len(regexp_extract_all(text,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INT AS n_ips,
       len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))::INT
           AS n_phones,
       regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
           'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS clean_text
FROM planted
"""


QUERIES_LATE["pii_scrub_stats"] = (pii_scrub_stats, PII_SCRUB_STATS_ORACLE)


# ---------------------------------------------------------------------------
# line-level dedup (C4/CCNet boilerplate removal) — the corpus has no
# newline structure, so the gate plants it: every doc becomes 3-4 lines
# (its own text + shared boilerplate + one of 20 rotating footer lines),
# and the duplicated-line pass must keep each repeated line only at its
# first (doc_id, pos) occurrence while rebuilding every doc in order.
# ---------------------------------------------------------------------------

def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-line removal gate query
    (``operators.dedup.dedup_lines_df``): winner-per-line is a digest
    hash-aggregate (lines shuffle as md5, never text), kept positions
    roll up to one int-array per doc and join back by id."""
    from .dedup import dedup_lines_df

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nAll rights reserved."),
            F.when(d % 2 == 0,
                   F.lit("\nSubscribe to our newsletter today")
                   ).otherwise(F.lit("")),
            F.lit("\nvisit shop "), (d % 20).cast("string"),
        ).alias("text"),
    )
    return dedup_lines_df(planted)


LINE_DEDUP_ORACLE = """
WITH planted AS (
  SELECT doc_id,
         text || chr(10) || 'All rights reserved.'
         || CASE WHEN doc_id % 2 = 0
                 THEN chr(10) || 'Subscribe to our newsletter today'
                 ELSE '' END
         || chr(10) || 'visit shop ' || (doc_id % 20) AS text
  FROM documents
),
base AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM planted
),
flat AS (
  SELECT doc_id, u.pos AS pos, u.line AS line
  FROM (SELECT doc_id,
               unnest(list_transform(range(0, len(ls)),
                      i -> {'pos': i, 'line': ls[i + 1]})) AS u
        FROM base)
),
winners AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY line
                              ORDER BY doc_id, pos) AS rn
    FROM flat)
  WHERE rn = 1
),
kept AS (
  SELECT doc_id, list_sort(list(pos)) AS kp FROM winners GROUP BY doc_id
)
SELECT b.doc_id,
       len(b.ls)::INT AS n_lines,
       coalesce(len(a.kp), 0)::INT AS n_kept,
       coalesce(array_to_string(list_transform(a.kp,
                    i -> b.ls[i + 1]), chr(10)), '') AS clean_text
FROM base b LEFT JOIN kept a USING (doc_id)
"""


QUERIES_LATE["line_dedup_docs"] = (line_dedup_docs, LINE_DEDUP_ORACLE)


# ---------------------------------------------------------------------------
# audio signal stats — the WAV twin of the gradient-BMP corpus: clips are
# synthesized from pure doc_id arithmetic, genuinely encoded to and
# decoded from RIFF/WAVE PCM16, and the integer signal statistics are
# closed-form in SQL.
# ---------------------------------------------------------------------------

def audio_signal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio gate query: energy / zero-crossing / peak statistics
    (``multimodal.audio.audio_signal_stats``) over REAL WAV decode of
    the tone corpus — all-integer accumulation, so the oracle's
    list-arithmetic replay is bit-exact."""
    from ..multimodal.audio import audio_signal_stats
    from ..multimodal.media import synthesize_tone_audio_from_documents

    docs = load_table(spark, sf_dir, "documents")
    return audio_signal_stats(synthesize_tone_audio_from_documents(docs))


AUDIO_SIGNAL_FEATURES_ORACLE = """
WITH p AS (
  SELECT doc_id, 50 + (doc_id * 7) % 300 AS n FROM documents
),
vals AS (
  SELECT doc_id, n,
         list_transform(range(0, n),
                        i -> ((doc_id*31 + i*97) % 4001) - 2000) AS v
  FROM p
)
SELECT doc_id AS media_id,
       n::INT AS n_samples,
       list_sum(list_transform(v, x -> x * x))::BIGINT AS sum_sq,
       list_sum(list_transform(range(1, n),
                i -> CASE WHEN (v[i] < 0) <> (v[i + 1] < 0)
                     THEN 1 ELSE 0 END))::INT AS n_sign_changes,
       list_max(list_transform(v, x -> abs(x)))::INT AS peak
FROM vals
"""


QUERIES_LATE["audio_signal_features"] = (audio_signal_features,
                                         AUDIO_SIGNAL_FEATURES_ORACLE)


# ---------------------------------------------------------------------------
# unigram log-probability quality score (CCNet-style LM filter, with the
# corpus itself as the LM) — the standard perplexity-flavored quality
# signal a pipeline thresholds on before training.
# ---------------------------------------------------------------------------

def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution: ``(Σ_w c_w·ln(freq_w/N)) / n_tokens`` folded
    left-to-right over the doc's SORTED distinct words (the
    ``word_entropy`` exactness recipe — both engines run the identical
    IEEE summation order, so only the terminal 6-dp round is needed).

    Scale shape: one explode feeds both the per-(doc, word) counts and —
    by a second aggregation of those counts, never a second scan — the
    corpus unigram table; the vocabulary joins back by word (vocab ≪
    corpus, broadcast-able); the per-doc fold runs over distinct words
    per doc.  The interpreted ``F.aggregate`` fold is linear per doc
    (unlike the quadratic nested HOF ``repetition_stats`` evicted);
    corpora with 10⁵-distinct-word documents should swap in the
    ``_core.batch.segment_sequential_sums`` Arrow kernel, which
    reproduces the same column-major sequential fold."""
    docs = load_table(spark, sf_dir, "documents")
    from .training_ops import _words

    dc = (
        docs.select("doc_id", F.explode(_words(F.col("text"))).alias("__w"))
        .groupBy("doc_id", "__w")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    freq = dc.groupBy("__w").agg(F.sum("__c").alias("__cw"))
    total = freq.agg(F.sum("__cw").alias("__n"))
    terms = (
        dc.join(freq, "__w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", "__c",
            F.struct(
                F.col("__w"),
                (F.col("__c").cast("double")
                 * F.log(F.col("__cw").cast("double")
                         / F.col("__n").cast("double"))).alias("__t"),
            ).alias("__wt"),
        )
    )
    collected = terms.groupBy("doc_id").agg(
        F.sum("__c").alias("n_tokens"),
        F.sort_array(F.collect_list("__wt")).alias("__arr"),
    )
    return (
        docs.select("doc_id").join(collected, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.aggregate(F.col("__arr"), F.lit(0.0),
                                lambda a, x: a + x["__t"])
                    / F.col("n_tokens"), 6),
            ).alias("avg_logprob"),
        )
    )


UNIGRAM_LOGPROB_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                            t -> t <> '')) AS w
  FROM documents
),
dc AS (
  SELECT doc_id, w, count(*)::BIGINT AS c FROM tok GROUP BY doc_id, w
),
freq AS (
  SELECT w, sum(c)::BIGINT AS cw FROM dc GROUP BY w
),
tot AS (
  SELECT sum(cw)::BIGINT AS n FROM freq
),
terms AS (
  SELECT d.doc_id, d.w, d.c,
         d.c::DOUBLE * ln(f.cw::DOUBLE / t.n::DOUBLE) AS t
  FROM dc d JOIN freq f USING (w) CROSS JOIN tot t
),
agg AS (
  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
         list_reduce(list_prepend(0.0::DOUBLE, list(t ORDER BY w)),
                     (a, b) -> a + b) AS s
  FROM terms GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0) AS n_tokens,
       CASE WHEN a.n_tokens > 0
            THEN round(a.s / a.n_tokens, 6) END AS avg_logprob
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


QUERIES_LATE["unigram_logprob_scores"] = (unigram_logprob_scores,
                                          UNIGRAM_LOGPROB_ORACLE)


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters — bounded-memory frequency estimation
# (the sketch-family member KMV's distinct counting doesn't cover).
# ---------------------------------------------------------------------------

_CMS_DEPTH, _CMS_WIDTH, _CMS_TOPK = 4, 1024, 20


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch token-frequency estimates for the corpus's
    top-{top_k} tokens, compared against exact counts.

    The COUNTER BUILD is the deployment path: every token occurrence
    hashes under ``depth`` salted FxHash-u32 streams (Arrow batch
    kernel; the identical stream the oracle replays in SQL) and
    aggregates into a ``depth × width`` table — bounded state with
    map-side combine, the whole point of a CMS at 100 TB where an exact
    token groupBy is the thing being avoided.  The exact top-k (and its
    counts) is GATE-side evidence only; the probe joins the tiny counter
    table broadcast.  CMS estimates are deterministic given the hash, so
    the oracle checks them exactly (min over rows, ≥ truth always).

    Returns (token, true_count, cms_estimate), top_k rows, ties on
    token."""
    from ..functions.sketch import fx32_col
    from .training_ops import _words

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_words(F.col("text"))).alias("tok"))
    salted_cols = F.array(
        *[F.concat(F.lit(f"{j} "), F.col("tok"))
          for j in range(_CMS_DEPTH)])
    # deployment path: occurrences → (row, bucket) → bounded aggregate
    counters = (
        toks.select(F.posexplode(salted_cols).alias("j", "__s"))
        .select("j", (fx32_col("__s") % _CMS_WIDTH).alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("true_count"))
    top = counts.orderBy(F.desc("true_count"), "tok").limit(_CMS_TOPK)
    probe = (
        top.select("tok", "true_count",
                   F.posexplode(salted_cols).alias("j", "__s"))
        .select("tok", "true_count", "j",
                (fx32_col("__s") % _CMS_WIDTH).alias("bucket"))
    )
    return (
        probe.join(F.broadcast(counters), on=["j", "bucket"])
        .groupBy("tok", "true_count")
        .agg(F.min("__cnt").alias("cms_estimate"))
        .select(F.col("tok").alias("token"), "true_count", "cms_estimate")
    )


def _cms_oracle() -> str:
    from ..oracles.duckdb_lsh import string_hash_sql

    h = string_hash_sql("(s.j::VARCHAR || ' ' || c.tok)")
    return rf"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
counts AS (
  SELECT tok, count(*)::BIGINT AS true_count FROM tok GROUP BY tok
),
salts AS (SELECT unnest(range(0, {_CMS_DEPTH})) AS j),
hashed AS (
  SELECT c.tok, c.true_count, s.j, ({h} % {_CMS_WIDTH}) AS bucket
  FROM counts c CROSS JOIN salts s
),
counters AS (
  SELECT j, bucket, sum(true_count)::BIGINT AS cnt
  FROM hashed GROUP BY j, bucket
),
top AS (
  SELECT tok, true_count FROM counts
  ORDER BY true_count DESC, tok LIMIT {_CMS_TOPK}
)
SELECT t.tok AS token, t.true_count,
       (SELECT min(cn.cnt) FROM hashed h
        JOIN counters cn ON cn.j = h.j AND cn.bucket = h.bucket
        WHERE h.tok = t.tok) AS cms_estimate
FROM top t
"""


QUERIES_LATE["cms_heavy_hitters"] = (cms_heavy_hitters, _cms_oracle())


# ---------------------------------------------------------------------------
# winnowing-fingerprint overlap pairs (MOSS-style local similarity)
# ---------------------------------------------------------------------------

_FPP_KGRAM, _FPP_WINDOW, _FPP_MIN_SHARED = 5, 4, 30
# hot-fingerprint cap (round-6 verdict item 4): a boilerplate k-gram
# that survives winnowing lands every document in one bucket and the
# self-join materializes |bucket|² pairs.  Standard MOSS practice drops
# fingerprints above an occurrence threshold BEFORE the join — the same
# hot-bucket prune the CC path applies.  At the sf0.01 gate the cap
# binds (29 of 888 fingerprints exceed 50 occurrences), so the oracle
# twin pins the capped semantics in both engines.
_FPP_MAX_OCC = 50


def fingerprint_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing ≥ {min_shared} winnowing fingerprints —
    the MOSS-style local-similarity join (robust to reordered/partially
    copied passages where whole-set Jaccard dilutes).  The join ships
    (fingerprint, id) only — never text — and the pair aggregate is a
    plain count, so scale is bounded by true fingerprint collisions.
    The gate runs on the ``doc_id % 5`` corpus fifth: the oracle's
    per-window FxHash chain has expression-tree-bound PLANNING cost in
    DuckDB (kgram 12 binds for ~1 min regardless of data; 16 exceeds
    the recursion limit), so the gate pins kgram=5 — the same chain
    `doc_fingerprints` already pins — with the overlap threshold doing
    the discrimination."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0)
    fps = docs.select(
        "doc_id",
        F.explode(winnow_fingerprints(
            "text", kgram=_FPP_KGRAM, window=_FPP_WINDOW)).alias("fp"),
    )
    # hot prune: the over-cap set is tiny by construction (at most
    # total_occurrences / cap fingerprints), so it broadcasts and the
    # prune is a map-side anti-join — no extra shuffle of fps
    hot = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__occ"))
        .where(F.col("__occ") > _FPP_MAX_OCC)
        .select("fp")
    )
    fps = fps.join(F.broadcast(hot), on="fp", how="left_anti")
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, on="fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= _FPP_MIN_SHARED)
    )


def _fingerprint_overlap_oracle() -> str:
    inner = _orc.doc_fingerprints_sql(_FPP_KGRAM, _FPP_WINDOW)
    return f"""
WITH documents AS (SELECT * FROM main.documents WHERE doc_id % 5 = 0),
fps_all AS ({inner}),
fps AS (
  SELECT * FROM fps_all
  WHERE fingerprint NOT IN (
    SELECT fingerprint FROM fps_all
    GROUP BY fingerprint HAVING count(*) > {_FPP_MAX_OCC})
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
FROM fps a JOIN fps b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_FPP_MIN_SHARED}
"""


QUERIES_LATE["fingerprint_overlap_pairs"] = (fingerprint_overlap_pairs,
                                             _fingerprint_overlap_oracle())


# ---------------------------------------------------------------------------
# resize + frame-sample end-to-end gates: the transform outputs are
# RE-DECODED and their integer pixel statistics compared against a
# closed-form oracle — the resample index math ((dst·src)//dst_n on both
# axes) composes with the synthesizer's pixel arithmetic, so the whole
# encode → decode → transform → re-encode → decode chain is pinned.
# ---------------------------------------------------------------------------

_RESIZE_W, _RESIZE_H = 16, 12


def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize gate: gradient BMPs → ``resize_images`` (nearest-neighbor,
    re-encoded as BMP) → ``image_pixel_stats`` over the RE-DECODED
    output; the oracle composes the two integer index maps."""
    from ..multimodal.media import (
        image_pixel_stats,
        resize_images,
        synthesize_gradient_images_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_images(
        synthesize_gradient_images_from_documents(docs),
        width=_RESIZE_W, height=_RESIZE_H)
    return image_pixel_stats(resized)


IMAGE_RESIZE_STATS_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, 9 + doc_id % 7 AS w, 8 + (doc_id * 3) % 5 AS h
  FROM documents
),
vals AS (
  SELECT doc_id,
         list_transform(range(0, {_RESIZE_W * _RESIZE_H}), i ->
           (doc_id*7 + 13*(((i % {_RESIZE_W}) * w) // {_RESIZE_W})
            + 31*(((i // {_RESIZE_W}) * h) // {_RESIZE_H})) % 256) AS v
  FROM dims
)
SELECT doc_id AS media_id,
       (3 * list_sum(v))::BIGINT AS px_sum,
       list_min(v)::INT AS px_min,
       list_max(v)::INT AS px_max
FROM vals
"""


_VFS_EVERY, _VFS_MAX = 2, 3


def video_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling gate: arithmetic RAWV videos →
    ``sample_frames(every_nth={_VFS_EVERY}, max_frames={_VFS_MAX})`` →
    ``image_pixel_stats`` of each RE-DECODED sampled frame (RAWI
    re-encode is lossless, so every byte is closed-form)."""
    from ..multimodal.media import (
        image_pixel_stats,
        sample_frames,
        synthesize_gradient_videos_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(
        synthesize_gradient_videos_from_documents(docs),
        every_nth=_VFS_EVERY, max_frames=_VFS_MAX)
    return image_pixel_stats(frames, content_col="frame",
                             id_cols=("media_id", "frame_idx"))


VIDEO_FRAME_SAMPLE_STATS_ORACLE = f"""
WITH dims AS (
  SELECT doc_id, 5 + doc_id % 4 AS w, 4 + doc_id % 3 AS h,
         3 + doc_id % 6 AS n
  FROM documents
),
sampled AS (
  SELECT doc_id, w, h,
         unnest(list_filter(range(0, n),
                f -> f % {_VFS_EVERY} = 0
                     AND f // {_VFS_EVERY} < {_VFS_MAX})) AS f
  FROM dims
),
vals AS (
  SELECT doc_id, f,
         list_transform(range(0, w * h), i ->
           (doc_id*11 + f*17 + 23*(i // w) + 29*(i % w)) % 256) AS v
  FROM sampled
)
SELECT doc_id AS media_id, f::INT AS frame_idx,
       list_sum(v)::BIGINT AS px_sum,
       list_min(v)::INT AS px_min,
       list_max(v)::INT AS px_max
FROM vals
"""


def dedup_keep_longest_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware retention over the pair-free cluster path
    (``lsh_dedup_keep_longest``'s winner aggregate): each near-dup
    component keeps its longest document, ties on lowest id — checked
    against the true-CC + QUALIFY-window oracle.  Cluster labels come
    from the shared ``ensure_cluster_labels`` table; the winner per
    component stays one ``max(struct(len, -id))`` hash-aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = spark.table(ensure_cluster_labels(spark, sf_dir))
    lens = docs.select(F.col("doc_id"), F.length("text").alias("__len"))
    return (
        clusters.join(lens, on="doc_id")
        .groupBy("cluster_id")
        .agg(F.max(F.struct(F.col("__len"),
                            (-F.col("doc_id")).alias("__nid"))).alias("w"))
        .select(
            (-F.col("w.__nid")).alias("doc_id"),
            "cluster_id",
            F.col("w.__len").alias("n_chars"),
        )
    )


QUERIES_LATE["dedup_keep_longest_minhash"] = (
    dedup_keep_longest_minhash, _orc.dedup_keep_longest_sql(3, 6, 6, 123))


def media_tiff_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF gate: arithmetic TIFFs (even docs little-endian grayscale,
    odd docs big-endian RGB — both byte orders, both photometric
    layouts) decoded by the real IFD parser, pixel statistics pinned
    byte-for-byte by the closed-form oracle."""
    from ..multimodal.media import (
        image_pixel_stats,
        synthesize_tiff_images_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_pixel_stats(synthesize_tiff_images_from_documents(docs))


MEDIA_TIFF_PIXEL_STATS_ORACLE = """
WITH dims AS (
  SELECT doc_id, 6 + doc_id % 9 AS w, 5 + doc_id % 7 AS h
  FROM documents
),
vals AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN
           list_transform(range(0, w * h), i ->
             (doc_id*13 + 7*(i % w) + 19*(i // w)) % 256)
         ELSE
           list_transform(range(0, w * h * 3), i ->
             (doc_id*13 + 7*((i // 3) % w) + 19*(i // (3 * w))
              + 41*(i % 3)) % 256)
         END AS v
  FROM dims
)
SELECT doc_id AS media_id,
       list_sum(v)::BIGINT AS px_sum,
       list_min(v)::INT AS px_min,
       list_max(v)::INT AS px_max
FROM vals
"""


QUERIES_LATE["media_tiff_pixel_stats"] = (media_tiff_pixel_stats,
                                          MEDIA_TIFF_PIXEL_STATS_ORACLE)


QUERIES_LATE["image_resize_stats"] = (image_resize_stats,
                                      IMAGE_RESIZE_STATS_ORACLE)
QUERIES_LATE["video_frame_sample_stats"] = (video_frame_sample_stats,
                                            VIDEO_FRAME_SAMPLE_STATS_ORACLE)


# ---------------------------------------------------------------------------
# persisted-index health stats — the ops-visibility query an operator
# runs against a long-lived LSH index (bucket-size skew drives probe
# cost; a ballooning max bucket is the signal to retune banding)
# ---------------------------------------------------------------------------

def near_dup_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band bucket statistics of the persisted A/B LSH index
    (session-amortized build shared with the streaming probe, physical
    tables resolved through the meta generation pointer): bucket count,
    row count, max bucket size, singleton count.  The oracle recomputes
    the corpus banding from scratch in SQL — so this also pins that the
    PERSISTED index content matches a fresh banding of the corpus."""
    from ..streaming.documents import ensure_ab_index
    from .similarity_join import lsh_index_stats

    return lsh_index_stats(spark, ensure_ab_index(spark, sf_dir))


def _index_stats_oracle() -> str:
    from ..operators.lsh_queries import _JOIN_AB_PLAN

    return f"""
WITH {_orc.char_shingles_cte(3)},
{_orc.minhash_bands_ctes(int(_JOIN_AB_PLAN.band_count),
                         int(_JOIN_AB_PLAN.band_size), 123)},
corpus_bands AS (
  SELECT id, band_idx, h FROM bands WHERE id % 2 = 0
),
buckets AS (
  SELECT band_idx, h, count(*) AS sz FROM corpus_bands GROUP BY 1, 2
)
SELECT band_idx::INT AS band_idx,
       count(*)::BIGINT AS n_buckets,
       sum(sz)::BIGINT AS n_rows,
       max(sz)::BIGINT AS max_bucket,
       sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons
FROM buckets GROUP BY band_idx
"""


QUERIES_LATE["near_dup_index_stats"] = (near_dup_index_stats,
                                        _index_stats_oracle())


def ann_ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF twin of ``near_dup_index_stats``: per-cell posting counts
    (plus min/max member ids — content, not just volume) of the
    persisted IVF index, vs an oracle that re-trains the deterministic
    Lloyd quantizer in SQL and re-assigns the corpus from scratch — so
    the PERSISTED postings are pinned against an independent
    recomputation.  Cell-size skew is the probe-cost signal (a fat cell
    makes every probe touching it scan more vectors)."""
    from ..operators.ann import ivf_index_stats
    from ..streaming.vectors import ensure_ivf_index

    return ivf_index_stats(spark, ensure_ivf_index(spark, sf_dir))


def _ivf_stats_oracle() -> str:
    ctes = _lloyd_cell_ctes(_IVF_LISTS, _IVF_ITERS)
    return ("WITH " + ",\n".join(ctes) + """
SELECT cell::INT AS cell, count(*)::BIGINT AS n_vectors,
       min(neighbor_id) AS min_vec_id, max(neighbor_id) AS max_vec_id
FROM c_cells GROUP BY cell
""")


QUERIES_LATE["ann_ivf_index_stats"] = (ann_ivf_index_stats,
                                       _ivf_stats_oracle())


# ---------------------------------------------------------------------------
# pipeline_clean_v2 — the round-6 operators composed into ONE cleaning
# pipeline: PII scrub → corpus-wide line dedup → quality filter → exact
# dedup.  Scrub-before-dedup matters and the gate proves it: redaction
# makes every even doc's contact line IDENTICAL, so the line pass can
# collapse what raw text never would.
# ---------------------------------------------------------------------------

def pipeline_clean_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-query modern cleaning pipeline over the planted corpus:
    redact PII (pure JVM regexp), drop corpus-wide duplicated lines
    (digest winner aggregate), keep docs with quality > 0.3 on the
    REBUILT text, then exact-dedup identical cleaned texts (lowest id
    wins).  Every stage is the already-gated operator — this query pins
    their composition."""
    from ..functions import pii
    from .dedup import dedup_lines_df

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nAll rights reserved."),
            F.when(d % 2 == 0,
                   F.concat(F.lit("\ncontact user"), d.cast("string"),
                            F.lit("@example.com now"))
                   ).otherwise(F.lit("")),
            F.lit("\ncall 555-"),
            F.lpad(((d * 13) % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((d * 29) % 10000).cast("string"), 4, "0"),
            F.lit(" today"),
        ).alias("text"),
    )
    scrubbed = planted.select(
        "doc_id", pii.redact_pii("text").alias("text"))
    lines = dedup_lines_df(scrubbed)
    rebuilt = lines.select(
        "doc_id", F.col("clean_text").alias("text"), "n_kept")
    scored = rebuilt.withColumn("quality", T.quality_score("text"))
    kept_q = scored.where(F.col("quality") > 0.3)
    from .dedup import exact_dedup

    final = exact_dedup(kept_q, "text", "doc_id")
    return final.select("doc_id", "n_kept",
                        F.length("text").alias("clean_len"), "quality")


PIPELINE_CLEAN_V2_ORACLE = r"""
WITH planted AS (
  SELECT doc_id,
         text || chr(10) || 'All rights reserved.'
         || CASE WHEN doc_id % 2 = 0
                 THEN chr(10) || 'contact user' || doc_id
                      || '@example.com now'
                 ELSE '' END
         || chr(10) || 'call 555-'
         || lpad(((doc_id * 13) % 1000)::VARCHAR, 3, '0')
         || '-' || lpad(((doc_id * 29) % 10000)::VARCHAR, 4, '0')
         || ' today' AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS text
  FROM planted
),
base AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM scrubbed
),
flat AS (
  SELECT doc_id, u.pos AS pos, u.line AS line
  FROM (SELECT doc_id,
               unnest(list_transform(range(0, len(ls)),
                      i -> {'pos': i, 'line': ls[i + 1]})) AS u
        FROM base)
),
winners AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY line
                              ORDER BY doc_id, pos) AS rn
    FROM flat)
  WHERE rn = 1
),
keptl AS (
  SELECT doc_id, list_sort(list(pos)) AS kp FROM winners GROUP BY doc_id
),
rebuilt AS (
  SELECT b.doc_id,
         coalesce(array_to_string(list_transform(a.kp,
                      i -> b.ls[i + 1]), chr(10)), '') AS text,
         coalesce(len(a.kp), 0)::INT AS n_kept
  FROM base b LEFT JOIN keptl a USING (doc_id)
),
tq AS (__QUALITY__),
joined AS (
  SELECT r.doc_id, r.text, r.n_kept, t.quality
  FROM rebuilt r JOIN tq t USING (doc_id)
),
final AS (
  SELECT * FROM joined WHERE quality > 0.3
  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
)
SELECT doc_id, n_kept, length(text)::INT AS clean_len, quality
FROM final
""".replace("__QUALITY__", _text_quality_oracle("rebuilt"))


QUERIES_LATE["pipeline_clean_v2"] = (pipeline_clean_v2,
                                     PIPELINE_CLEAN_V2_ORACLE)


# ---------------------------------------------------------------------------
# n-gram novelty — per-document content-novelty score by corpus order
# ---------------------------------------------------------------------------

def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of a document's DISTINCT word bigrams whose first
    corpus occurrence (lowest doc_id) is this document — the diversity
    signal curriculum/mixture builders use to favor novel content over
    boilerplate.  One explode feeds both the per-(doc, ngram) distinct
    set and, by re-aggregation, the first-owner table (min doc_id per
    ngram — a map-side-combining aggregate, no window); ownership joins
    back by ngram digest.  Ratio is a double division of integer
    counts, rounded 6dp."""
    docs = load_table(spark, sf_dir, "documents")
    from .training_ops import _words, exploded_word_bigrams

    dg = (
        exploded_word_bigrams(
            docs.select("doc_id", _words(F.col("text")).alias("__t")),
            F.col("__t"), keep=("doc_id",))
        .select("doc_id", F.md5("__g").alias("__h"))
        .distinct()
    )
    first = dg.groupBy("__h").agg(F.min("doc_id").alias("__first"))
    per_doc = (
        dg.join(first, on="__h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_ngrams"),
            F.sum(F.when(F.col("doc_id") == F.col("__first"), 1)
                  .otherwise(0)).alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id").join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_distinct_ngrams", F.lit(0))
            .alias("n_distinct_ngrams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.when(F.col("n_distinct_ngrams") > 0,
                   F.round(F.col("n_novel")
                           / F.col("n_distinct_ngrams"), 6))
            .alias("novelty"),
        )
    )


NGRAM_NOVELTY_ORACLE = r"""
WITH words AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                     t -> t <> '') AS ws
  FROM documents
),
dg AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(ws)),
                i -> ws[i] || ' ' || ws[i + 1])) AS g
  FROM words WHERE len(ws) >= 2
),
first_owner AS (
  SELECT g, min(doc_id) AS first_id FROM dg GROUP BY g
),
per_doc AS (
  SELECT d.doc_id,
         count(*)::BIGINT AS n_distinct_ngrams,
         sum(CASE WHEN d.doc_id = f.first_id THEN 1 ELSE 0 END)::BIGINT
             AS n_novel
  FROM dg d JOIN first_owner f USING (g)
  GROUP BY d.doc_id
)
SELECT w.doc_id,
       coalesce(p.n_distinct_ngrams, 0) AS n_distinct_ngrams,
       coalesce(p.n_novel, 0) AS n_novel,
       CASE WHEN p.n_distinct_ngrams > 0
            THEN round(p.n_novel * 1.0 / p.n_distinct_ngrams, 6)
       END AS novelty
FROM words w LEFT JOIN per_doc p USING (doc_id)
"""


QUERIES_LATE["ngram_novelty_scores"] = (ngram_novelty_scores,
                                        NGRAM_NOVELTY_ORACLE)


# ---------------------------------------------------------------------------
# corpus summary report — the per-snapshot "dataset card" aggregate a
# pipeline emits after every build: one scan, per-language rollup.
# ---------------------------------------------------------------------------

def corpus_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics in ONE scan: document and token
    volume, char volume, and mean quality score.  The quality mean is
    made order-independent by summing the 6-dp-rounded per-doc quality
    as DECIMAL(18,6) (exactly representable) before the final division
    — the money-aggregate recipe applied to a float feature."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        T.lang_guess("text").alias("lang"),
        T.char_count("text").alias("__chars"),
        T.token_count("text").alias("__tokens"),
        F.round(T.quality_score("text"), 6)
        .cast("decimal(18,6)").alias("__q"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__chars").alias("total_chars"),
            F.sum("__tokens").alias("total_tokens"),
            # cast the exact decimal sum to DOUBLE BEFORE dividing (the
            # q22 idiom): DuckDB's '/' on DECIMAL operands degrades to
            # IEEE double division, so Spark's exact decimal division
            # would use a different op sequence before the 6dp round
            F.expr("CAST(round(CAST(SUM(__q) AS DOUBLE) / COUNT(*), 6) "
                   "AS DOUBLE)").alias("avg_quality"),
        )
    )


def _corpus_summary_oracle() -> str:
    # reuse the TEXT_QUALITY_ORACLE expressions verbatim via a CTE over
    # its output shape (lang_guess + quality are already oracle-pinned)
    return f"""
WITH tq AS ({TEXT_QUALITY_ORACLE}),
feats AS (
  SELECT d.doc_id, t.lang_guess AS lang, t.quality,
         length(d.text) AS n_chars,
         CASE WHEN trim(d.text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(d.text), '[ \\t\\n\\x0b\\f\\r]+'))
              END AS n_tokens
  FROM documents d JOIN tq t ON t.doc_id = d.doc_id
)
SELECT lang, count(*) AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       sum(n_tokens)::BIGINT AS total_tokens,
       round(sum(quality::DECIMAL(18,6)) / count(*), 6)::DOUBLE
           AS avg_quality
FROM feats GROUP BY lang
"""


QUERIES_LATE["corpus_summary_report"] = (corpus_summary_report,
                                         _corpus_summary_oracle())


def corpus_summary_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card rollup as a STREAMING complete-mode aggregate:
    documents arrive as a file stream, the per-language summary
    maintains running state per group (no watermark — a global rollup
    never expires), drained AvailableNow into a memory sink.  Shares
    the batch twin's exact oracle."""
    from ..streaming.drain import file_stream, run_available_now

    agg = (
        file_stream(spark, sf_dir, "documents").select(
            T.lang_guess("text").alias("lang"),
            T.char_count("text").alias("__chars"),
            T.token_count("text").alias("__tokens"),
            F.round(T.quality_score("text"), 6)
            .cast("decimal(18,6)").alias("__q"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__chars").alias("total_chars"),
            F.sum("__tokens").alias("total_tokens"),
            # cast the exact decimal sum to DOUBLE BEFORE dividing (the
            # q22 idiom): DuckDB's '/' on DECIMAL operands degrades to
            # IEEE double division, so Spark's exact decimal division
            # would use a different op sequence before the 6dp round
            F.expr("CAST(round(CAST(SUM(__q) AS DOUBLE) / COUNT(*), 6) "
                   "AS DOUBLE)").alias("avg_quality"),
        )
    )
    run_available_now(agg, "corpus_summary_streaming_sink", "complete")
    return spark.table("corpus_summary_streaming_sink")


QUERIES_LATE["corpus_summary_streaming"] = (corpus_summary_streaming,
                                            _corpus_summary_oracle())


def _register_streaming_pii() -> None:
    """Late-register the streaming PII scrub (defined in
    ``streaming.documents``) so the registry position of every earlier
    query — and its driver-row history — stays stable.  It shares the
    batch twin's exact oracle (the AvailableNow drain is
    batch-identical)."""
    from ..streaming.documents import pii_scrub_streaming

    QUERIES_LATE["pii_scrub_streaming"] = (pii_scrub_streaming,
                                           PII_SCRUB_STATS_ORACLE)


_register_streaming_pii()


# ---------------------------------------------------------------------------
# MP3 stream features — the MPEG-audio twin of the WAV tone corpus:
# spec-valid frame streams synthesized from pure doc_id arithmetic
# (multimodal.media.synthesize_mp3_audio_from_documents), genuinely
# walked by containers.decode_mp3 (headers only, no DSP), with every
# output — frame count, exact padded byte length, VBR bitrate sum,
# floor-division duration — replayed arithmetically by the oracle.
# Closes the last common audio-container stub (round-6 verdict item 5).
# ---------------------------------------------------------------------------

def mp3_stream_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 gate query: header-walk metadata over the arithmetic MPEG
    corpus — the synthesizer's frame parameters AND the encoder's exact
    frame lengths (144000·kbps//rate + pad for MPEG-1 Layer III,
    72000·kbps//rate + pad for MPEG-2, plus the ID3v2 prefix) are
    closed-form in doc_id, so the oracle pins the full
    encode → ID3-skip → frame-walk chain byte-for-byte."""
    from ..multimodal.audio import mp3_stream_features
    from ..multimodal.media import synthesize_mp3_audio_from_documents

    docs = load_table(spark, sf_dir, "documents")
    return mp3_stream_features(synthesize_mp3_audio_from_documents(docs))


MP3_STREAM_FEATURES_ORACLE = """
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS ver,
         doc_id % 3 AS sri,
         3 + doc_id % 6 AS nf,
         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS ch,
         CASE WHEN doc_id % 4 = 0 THEN 10 + doc_id % 17 ELSE 0 END AS id3
  FROM documents
),
q AS (
  SELECT doc_id, ver, nf, ch, id3,
         CASE WHEN ver = 1 THEN ([44100, 48000, 32000])[sri + 1]
              ELSE ([22050, 24000, 16000])[sri + 1] END AS sr,
         CASE WHEN ver = 1 THEN 1152 ELSE 576 END AS spf,
         list_transform(range(0, nf), j -> CASE WHEN ver = 1
           THEN ([32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                 )[1 + (doc_id*7 + j*3) % 14]
           ELSE ([8,16,24,32,40,48,56,64,80,96,112,128,144,160]
                 )[1 + (doc_id*7 + j*3) % 14] END) AS kbps,
         list_transform(range(0, nf), j -> (doc_id + j) % 2) AS pads
  FROM p
)
SELECT doc_id AS media_id,
       ver::INT AS mpeg_version,
       sr::INT AS sample_rate,
       ch::INT AS channels,
       nf::INT AS n_mpeg_frames,
       (nf * spf)::BIGINT AS n_samples,
       list_sum(kbps)::BIGINT AS bitrate_sum_kbps,
       ((1000 * nf * spf) // sr)::BIGINT AS duration_ms,
       (id3 + list_sum(list_transform(range(0, nf), j ->
          (CASE WHEN ver = 1 THEN 144000 ELSE 72000 END * kbps[j + 1])
          // sr + pads[j + 1])))::BIGINT AS n_bytes
FROM q
"""


QUERIES_LATE["mp3_stream_features"] = (mp3_stream_features_q,
                                       MP3_STREAM_FEATURES_ORACLE)


# ---------------------------------------------------------------------------
# MP4 box features — the ISO-BMFF twin of the MP3 stream corpus:
# spec-valid box trees synthesized from pure doc_id arithmetic
# (multimodal.media.synthesize_mp4_video_from_documents), genuinely
# walked by containers.decode_mp4 (box tree + mvhd/tkhd/mdhd/hdlr,
# no sample data), with every output — brand, floor-division duration,
# track kind counts, first-video dimensions, exact byte length from the
# closed-form box sizes — replayed arithmetically by the oracle.
# Closes the last container stub: no common media container remains
# digest-stubbed.
# ---------------------------------------------------------------------------

def mp4_container_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 gate query: box-walk metadata over the arithmetic ISO-BMFF
    corpus — the synthesizer's parameters AND the encoder's exact box
    sizes (ftyp 16 + 4·brands, moov header 8, mvhd 108, trak 185) are
    closed-form in doc_id, so the oracle pins the full
    encode → box-walk chain byte-for-byte."""
    from ..multimodal.media import (
        mp4_box_features,
        synthesize_mp4_video_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return mp4_box_features(synthesize_mp4_video_from_documents(docs))


MP4_CONTAINER_FEATURES_ORACLE = """
WITH p AS (
  SELECT doc_id,
         ([600, 1000, 90000, 48000])[doc_id % 4 + 1] AS ts,
         doc_id % 3 AS n_audio
  FROM documents
),
q AS (
  SELECT doc_id, ts, n_audio,
         ts * (1 + doc_id % 7) + doc_id % 13 AS dur
  FROM p
)
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS major_brand,
       ts::INT AS timescale,
       ((1000 * dur) // ts)::BIGINT AS duration_ms,
       (1 + n_audio)::INT AS n_tracks,
       1::INT AS n_video_tracks,
       n_audio::INT AS n_audio_tracks,
       (16 * (4 + doc_id % 9))::INT AS width,
       (16 * (3 + doc_id % 5))::INT AS height,
       (16 + 4 * (1 + doc_id % 3) + 8 + 108
        + (1 + n_audio) * 185)::BIGINT AS n_bytes
FROM q
"""


QUERIES_LATE["mp4_container_features"] = (mp4_container_features_q,
                                          MP4_CONTAINER_FEATURES_ORACLE)




# ---------------------------------------------------------------------------
# SQ8 scalar-quantized ANN — the memory-bound similarity-search shape
# for a 100 TB embedding corpus (int8 codes are 4x smaller than the
# float32 vectors the exact scan reads).  The whole
# bounds -> quantize -> dequantize -> cosine chain is deterministic
# IEEE float64 arithmetic, so the DuckDB oracle replays it exactly:
# same bounds (min/max are order-independent), same literal op sequence
# mn + (floor(((x-mn)*255)/rng + 0.5)*rng)/255, same list_dot_product
# fold the ann_topk oracle already pins against the Spark dot/norm
# expressions.
# ---------------------------------------------------------------------------

_SQ8_DIM = 64


def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann.sq8_topk(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), dim=_SQ8_DIM,
        k=_ANN_K)


ANN_SQ8_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {_N_QUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
bounds AS (
  SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx
  FROM (SELECT i, min(cv[i]) AS mn, max(cv[i]) AS mx
        FROM c, range(1, {_SQ8_DIM + 1}) t(i) GROUP BY i)
),
deq AS (
  -- the 0..255 clamp mirrors _sq8_quant's least/greatest exactly
  -- (identity for in-bounds corpus values — the bounds ARE the corpus
  -- min/max — but both SQ8 oracles now share one literal op sequence
  -- with the IVF-SQ8 twin, where extend() can see out-of-bounds input)
  SELECT neighbor_id,
         list_transform(range(1, {_SQ8_DIM + 1}), i ->
           CASE WHEN b.mx[i] > b.mn[i]
                THEN b.mn[i]
                     + (least(greatest(
                          floor(((cv[i] - b.mn[i]) * 255)
                                / (b.mx[i] - b.mn[i]) + 0.5), 0), 255)
                        * (b.mx[i] - b.mn[i])) / 255
                ELSE b.mn[i] END) AS xv
  FROM c, bounds b
),
scored AS (
  SELECT query_id, neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
                     AND sqrt(list_dot_product(xv, xv)) > 0
               THEN list_dot_product(qv, xv)
                    / (sqrt(list_dot_product(qv, qv))
                       * sqrt(list_dot_product(xv, xv)))
               ELSE 0.0 END, 6) AS cosine_sim
  FROM q CROSS JOIN deq
  WHERE query_id != neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank FROM ranked WHERE rank <= {_ANN_K}
"""


QUERIES_LATE["ann_sq8_topk"] = (ann_sq8_topk, ANN_SQ8_TOPK_ORACLE)


# ---------------------------------------------------------------------------
# Language identification — Cavnar-Trenkle-style char-n-gram profiles
# (operators/langid.py).  The train -> score chain is pure integer
# arithmetic over deterministic orderings (count desc, n-gram asc;
# score desc, lang asc), so the DuckDB oracle replays it exactly:
# same profiles, same overlap sums, same argmax.
# ---------------------------------------------------------------------------

_LANGID_N, _LANGID_PROFILE = 3, 200


def lang_id_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .langid import char_ngram_lang_id

    docs = load_table(spark, sf_dir, "documents")
    return char_ngram_lang_id(
        docs, ngram_width=_LANGID_N, profile_size=_LANGID_PROFILE)


LANG_ID_PREDICTIONS_ORACLE = f"""
WITH grams AS (
  SELECT doc_id, lang, substr(text, i, {_LANGID_N}) AS ng
  FROM (SELECT doc_id, lang, text,
               unnest(generate_series(1,
                   greatest(length(text) - {_LANGID_N - 1}, 0))) AS i
        FROM documents)
),
doc_counts AS (
  SELECT doc_id, ng, count(*) AS dn FROM grams GROUP BY doc_id, ng
),
profile AS (
  SELECT plang, ng FROM (
    SELECT lang AS plang, ng,
           row_number() OVER (PARTITION BY lang
                              ORDER BY count(*) DESC, ng ASC) AS rk
    FROM grams GROUP BY lang, ng
  ) WHERE rk <= {_LANGID_PROFILE}
),
scores AS (
  SELECT d.doc_id, p.plang, sum(d.dn) AS score
  FROM doc_counts d JOIN profile p ON d.ng = p.ng
  GROUP BY d.doc_id, p.plang
),
best AS (
  SELECT doc_id, plang AS predicted_lang, score FROM (
    SELECT doc_id, plang, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, plang ASC) AS rk
    FROM scores)
  WHERE rk = 1
)
SELECT d.doc_id, d.lang, b.predicted_lang,
       coalesce(b.score, 0)::BIGINT AS score,
       (b.predicted_lang = d.lang) AS is_match
FROM documents d LEFT JOIN best b USING (doc_id)
"""


QUERIES_LATE["lang_id_predictions"] = (lang_id_predictions,
                                       LANG_ID_PREDICTIONS_ORACLE)


# ---------------------------------------------------------------------------
# Document chunking — context-window splitting with overlap
# (training_ops.chunk_documents_df).  Pure integer character grid +
# substring, so the oracle replays it literally.
# ---------------------------------------------------------------------------

_CHUNK_CHARS, _CHUNK_OVERLAP = 256, 32


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training_ops import chunk_documents_df

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents_df(
        docs, chunk_chars=_CHUNK_CHARS, overlap=_CHUNK_OVERLAP)


_CHUNK_STRIDE = _CHUNK_CHARS - _CHUNK_OVERLAP

CHUNK_DOCUMENTS_ORACLE = f"""
SELECT doc_id,
       i::INT AS chunk_idx,
       substr(text, i * {_CHUNK_STRIDE} + 1, {_CHUNK_CHARS}) AS chunk_text,
       length(substr(text, i * {_CHUNK_STRIDE} + 1,
                     {_CHUNK_CHARS}))::BIGINT AS n_chars
FROM (
  SELECT doc_id, text,
         unnest(generate_series(0,
             greatest(length(text) - {_CHUNK_OVERLAP} - 1, 0)
             // {_CHUNK_STRIDE})) AS i
  FROM documents WHERE length(text) > 0
)
"""


QUERIES_LATE["chunk_documents"] = (chunk_documents, CHUNK_DOCUMENTS_ORACLE)


def _register_streaming_media() -> None:
    """Late-register the streaming media decode (defined in
    ``streaming.documents``); shares the batch twin's exact oracle
    (the AvailableNow drain is batch-identical)."""
    from ..streaming.documents import media_features_streaming

    QUERIES_LATE["media_features_streaming"] = (media_features_streaming,
                                                MP3_STREAM_FEATURES_ORACLE)


_register_streaming_media()


# ---------------------------------------------------------------------------
# prepare_training_corpus — the full LLM training-data preparation flow
# composed into ONE query: quality filter -> context-window chunking ->
# exact chunk dedup -> sequence packing.  Every stage is an
# already-gated operator (text_quality, chunk_documents,
# dedup-by-min-id, pack_sequences); this query pins their COMPOSITION,
# with the oracle stacking the stage CTEs in front of the recursive
# packing replay (training_ops.pack_oracle_sql).
#
# Chunks get a composite BIGINT id cid = doc_id * 1e6 + chunk_idx so
# the greedy packing order is (doc_id, chunk_idx); the bound holds for
# documents up to ~224 M chars (1e6 chunks of stride 224) — far beyond
# any web document; a production variant would pack on a struct key.
# ---------------------------------------------------------------------------

_PTC_QUALITY = 0.3
_PTC_CID = 1_000_000


def prepare_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import fanout_scan
    from .training_ops import chunk_documents_df, pack_sequences_df

    from .training_ops import _words

    docs = fanout_scan(load_table(spark, sf_dir, "documents"))
    kept = docs.where(T.quality_score("text") > _PTC_QUALITY)
    chunks = chunk_documents_df(
        kept, chunk_chars=_CHUNK_CHARS, overlap=_CHUNK_OVERLAP)
    # dedup on an md5 DIGEST key with n_tokens counted map-side BEFORE
    # the shuffle: the exchange carries (digest, cid, n_tokens) — never
    # the chunk text itself (the repo's line-dedup contract,
    # operators/dedup.py) — a ~4x narrower shuffle at any scale than
    # grouping on the raw 512-char strings; downstream packing only
    # needs token counts, so the text is projected away for good
    deduped = (
        chunks.select(
            (F.col("doc_id") * _PTC_CID + F.col("chunk_idx")).alias("cid"),
            F.md5("chunk_text").alias("__dig"),
            F.size(_words(F.col("chunk_text"))).cast("bigint")
            .alias("n_tokens"))
        .groupBy("__dig").agg(F.min("cid").alias("cid"),
                              F.min("n_tokens").alias("n_tokens"))
    )
    packed = pack_sequences_df(
        deduped.select(F.col("cid").alias("doc_id"), "n_tokens"),
        max_len=64, shard_budget=2000, tokens_precomputed=True)
    return packed.select(
        F.expr(f"doc_id DIV {_PTC_CID}").alias("doc_id"),
        (F.col("doc_id") % _PTC_CID).cast("int").alias("chunk_idx"),
        "n_tokens", "seq_id", "seq_pos", "truncated",
    )


def _prepare_training_corpus_oracle() -> str:
    from .training_ops import pack_oracle_sql

    pre = f"""quality AS (
  SELECT doc_id FROM ({_text_quality_oracle('documents')}) q
  WHERE q.quality > {_PTC_QUALITY}
),
chunks AS (
  SELECT doc_id * {_PTC_CID} + i AS cid,
         substr(text, i * {_CHUNK_STRIDE} + 1, {_CHUNK_CHARS}) AS chunk_text
  FROM (
    SELECT d.doc_id, d.text,
           unnest(generate_series(0,
               greatest(length(d.text) - {_CHUNK_OVERLAP} - 1, 0)
               // {_CHUNK_STRIDE})) AS i
    FROM documents d JOIN quality USING (doc_id)
    WHERE length(d.text) > 0
  )
),
dedup AS (
  -- digest-keyed dedup, mirroring the Spark plan: group on
  -- md5(chunk_text) with n_tokens counted before the group so both
  -- engines share the collision semantics AND the token counts
  SELECT min(cid) AS cid, min(n_tokens) AS n_tokens
  FROM (
    SELECT cid, md5(chunk_text) AS dig,
           len(coalesce(list_filter(string_split_regex(chunk_text,
                                    '[ \t\n\x0b\f\r]+'),
                               t -> t != ''), []))::BIGINT AS n_tokens
    FROM chunks
  )
  GROUP BY dig
),
"""
    toks = r"""
  SELECT cid AS doc_id, n_tokens
  FROM dedup
"""
    inner = pack_oracle_sql(toks, max_len=64, budget=2000, pre_ctes=pre)
    return f"""
SELECT doc_id // {_PTC_CID} AS doc_id,
       (doc_id % {_PTC_CID})::INT AS chunk_idx,
       n_tokens, seq_id, seq_pos, truncated
FROM ({inner}) packed
"""


QUERIES_LATE["prepare_training_corpus"] = (prepare_training_corpus,
                                           _prepare_training_corpus_oracle())


# ---------------------------------------------------------------------------
# IVF-SQ8 persisted index — the FAISS IVF-SQ shape: the persisted IVF
# index storing 8-bit scalar-quantized codes + frozen per-dim bounds
# instead of float vectors (4x less index storage/scan I/O at 100 TB).
# Lloyd training and cell assignment run full-precision (same
# _lloyd_cell_ctes replay as the float index); only the stored payload
# and the probe-side reconstruction change, and both are the exact
# oracle-replayable SQ8 arithmetic ann_sq8_topk already pins.
# ---------------------------------------------------------------------------


def ann_ivf_sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.vectors import ensure_ivf_sq8_index

    index = ensure_ivf_sq8_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return ann.search_ivf_index(
        spark, index, emb.where(F.col("vec_id") < _N_QUERIES),
        k=_ANN_K, n_probe=_IVF_PROBE)


def _ivf_sq8_oracle() -> str:
    ctes = _lloyd_cell_ctes(_IVF_LISTS, _IVF_ITERS)
    cent = f"cent_{_IVF_ITERS}"
    ctes.append(f"""bounds AS (
  SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx
  FROM (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
        FROM corpus, range(1, {_SQ8_DIM + 1}) t(i) GROUP BY i)
)""")
    ctes.append(f"""cq AS (
  SELECT neighbor_id, cell,
         list_transform(range(1, {_SQ8_DIM + 1}), i ->
           CASE WHEN b.mx[i] > b.mn[i]
                THEN b.mn[i]
                     + (least(greatest(floor(((v[i] - b.mn[i]) * 255)
                                  / (b.mx[i] - b.mn[i]) + 0.5), 0), 255)
                        * (b.mx[i] - b.mn[i])) / 255
                ELSE b.mn[i] END) AS xv
  FROM c_cells, bounds b
)""")
    ctes.append(f"""q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < {_N_QUERIES})""")
    ctes.append(f"""probes AS (
  SELECT query_id, v, cell FROM (
    SELECT query_id, v, cell,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY {_SQDIST.format(a='v', b='cv')} ASC, cell ASC) AS r
    FROM q CROSS JOIN {cent}
  ) WHERE r <= {_IVF_PROBE}
)""")
    ctes.append("""scored AS (
  SELECT p.query_id, cq.neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(p.v, p.v)) > 0
                     AND sqrt(list_dot_product(cq.xv, cq.xv)) > 0
               THEN list_dot_product(p.v, cq.xv)
                    / (sqrt(list_dot_product(p.v, p.v))
                       * sqrt(list_dot_product(cq.xv, cq.xv)))
               ELSE 0.0 END, 6) AS cosine_sim
  FROM probes p JOIN cq USING (cell)
  WHERE p.query_id != cq.neighbor_id
)""")
    ctes.append("""ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT query_id, neighbor_id, cosine_sim, rank"
              f" FROM ranked WHERE rank <= {_ANN_K}")


QUERIES_LATE["ann_ivf_sq8_search"] = (ann_ivf_sq8_search, _ivf_sq8_oracle())


# ---------------------------------------------------------------------------
# URL / domain filtering — the C4-style URL stage (functions/urls.py):
# URLs planted into the corpus from pure doc_id arithmetic (the PII-gate
# pattern), extracted by the JVM regexp on the Spark side, and replayed
# CLOSED-FORM by the oracle (the planted hosts are doc_id arithmetic, so
# the oracle never parses text — any extraction drift breaks the hash).
# ---------------------------------------------------------------------------

_URL_BLOCKLIST = ("site0.example0.org", "site13.example1.org",
                  "site26.example2.org")


def _planted_url_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) with ``1 + d % 3`` URLs appended: URL j uses
    scheme https when ``(d + j)`` is even, host
    ``site{(d*3 + j*5) % 40}.example{(d + j) % 3}.org``, path ``/p{d}``
    — every host is a closed-form function of doc_id."""
    d = F.col("doc_id")
    parts = [F.col("text")]
    for j in range(3):
        parts.append(
            F.when(
                d % 3 >= j if j else F.lit(True),
                F.concat(
                    F.lit(" see "),
                    F.when((d + j) % 2 == 0,
                           F.lit("https://")).otherwise(F.lit("http://")),
                    F.lit("site"), ((d * 3 + j * 5) % 40).cast("string"),
                    F.lit(".example"), ((d + j) % 3).cast("string"),
                    F.lit(".org/p"), d.cast("string"),
                ),
            ).otherwise(F.lit("")))
    return docs.select("doc_id", F.concat(*parts).alias("text"))


_URL_DOMS_SQL = """
  SELECT doc_id,
         unnest(list_transform(range(0, 1 + doc_id % 3), j ->
             'site' || ((doc_id * 3 + j * 5) % 40)::VARCHAR
             || '.example' || ((doc_id + j) % 3)::VARCHAR
             || '.org')) AS domain
  FROM documents
"""

_URL_BL_SQL = "[" + ", ".join(f"'{b}'" for b in _URL_BLOCKLIST) + "]"


def domain_blocklist_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.urls import domain_stats

    docs = load_table(spark, sf_dir, "documents")
    return domain_stats(_planted_url_docs(docs),
                        blocklist=_URL_BLOCKLIST)


DOMAIN_BLOCKLIST_STATS_ORACLE = f"""
WITH doms AS ({_URL_DOMS_SQL})
SELECT domain,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_urls,
       list_contains({_URL_BL_SQL}, domain) AS blocked
FROM doms GROUP BY domain
"""


def blocked_docs_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.urls import flag_blocked_docs

    docs = load_table(spark, sf_dir, "documents")
    return flag_blocked_docs(_planted_url_docs(docs),
                             blocklist=_URL_BLOCKLIST)


BLOCKED_DOCS_FILTER_ORACLE = f"""
WITH doms AS ({_URL_DOMS_SQL}),
per_doc AS (
  SELECT doc_id,
         count(*) AS n_urls,
         sum(CASE WHEN list_contains({_URL_BL_SQL}, domain)
                  THEN 1 ELSE 0 END) AS n_blocked
  FROM doms GROUP BY doc_id
)
SELECT doc_id,
       n_urls::BIGINT AS n_urls,
       n_blocked::BIGINT AS n_blocked_urls,
       n_blocked = 0 AS keep
FROM per_doc
"""


QUERIES_LATE["domain_blocklist_stats"] = (domain_blocklist_stats,
                                          DOMAIN_BLOCKLIST_STATS_ORACLE)
QUERIES_LATE["blocked_docs_filter"] = (blocked_docs_filter,
                                       BLOCKED_DOCS_FILTER_ORACLE)


# ---------------------------------------------------------------------------
# dataset splits — deterministic, growth-stable, group-aware
# train/val/test assignment (training_ops.dataset_splits_df).  Pure
# md5-bucket arithmetic, so the oracle replays it literally.
# ---------------------------------------------------------------------------


def dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training_ops import dataset_splits_df

    return dataset_splits_df(load_table(spark, sf_dir, "documents"))


DATASET_SPLITS_ORACLE = """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(doc_id::VARCHAR || ':split-v1'), 1, 8)
              )::BIGINT % 10000 AS BIGINT) AS bucket
  FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < 500 THEN 'test'
            WHEN bucket < 1000 THEN 'val'
            ELSE 'train' END AS split
FROM b
"""


QUERIES_LATE["dataset_splits"] = (dataset_splits, DATASET_SPLITS_ORACLE)


# ---------------------------------------------------------------------------
# split leakage QA — near-dup pairs straddling train/val/test
# boundaries (the eval-contamination check run before any split ships:
# doc-level hashing keeps a document's own derivatives together, but
# near-duplicate PAIRS across distinct documents can still straddle —
# this measures how much).  Composes two gated operators: the verified
# MinHash pair miner and the deterministic splits; the oracle stacks
# the pair oracle and the split-bucket arithmetic as CTEs.
# ---------------------------------------------------------------------------


def split_leakage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .lsh_queries import minhash_near_dup_pairs
    from .training_ops import split_expr

    # the split is a PURE FUNCTION of doc_id (md5-bucket arithmetic —
    # the exact property that makes dataset_splits_df zero-shuffle), so
    # project it onto id_a/id_b in-plan: zero joins beyond the pair
    # miner's own, zero broadcasts (the previous broadcast-join form
    # shipped a corpus-sized (doc_id, split) table to every executor —
    # the scale anti-pattern this module's pair ops forbid)
    pairs = minhash_near_dup_pairs(spark, sf_dir)
    sa = split_expr(F.col("id_a"))
    sb = split_expr(F.col("id_b"))
    return (
        pairs.groupBy(F.least(sa, sb).alias("split_a"),
                      F.greatest(sa, sb).alias("split_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn("leaks", F.col("split_a") != F.col("split_b"))
    )


def _split_leakage_oracle() -> str:
    from .lsh_queries import QUERIES as _LSH_QUERIES

    pairs_sql = _LSH_QUERIES["minhash_near_dup_pairs"][1]
    return f"""
WITH pairs AS ({pairs_sql}),
b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(doc_id::VARCHAR || ':split-v1'), 1, 8)
              )::BIGINT % 10000 AS BIGINT) AS bucket
  FROM documents
),
s AS (
  SELECT doc_id,
         CASE WHEN bucket < 500 THEN 'test'
              WHEN bucket < 1000 THEN 'val'
              ELSE 'train' END AS split
  FROM b
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       count(*)::BIGINT AS n_pairs,
       least(sa.split, sb.split) != greatest(sa.split, sb.split) AS leaks
FROM pairs p
JOIN s sa ON sa.doc_id = p.id_a
JOIN s sb ON sb.doc_id = p.id_b
GROUP BY 1, 2
"""


QUERIES_LATE["split_leakage_stats"] = (split_leakage_stats,
                                       _split_leakage_oracle())


# ---------------------------------------------------------------------------
# BM25 retrieval (operators/retrieval.py) — lexical top-k over the
# corpus for a fixed literal query set; scores fold left-to-right over
# sorted matched terms (the unigram_logprob exactness recipe), 6-dp
# round BEFORE ranking, ties on doc_id.
# ---------------------------------------------------------------------------

_BM25_QUERIES = (
    (0, "hash join merge"),
    (1, "window scan sort"),
    (2, "fast batch stream"),
)
_BM25_K = 10


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .retrieval import bm25_topk

    texts = F.array(*[F.lit(t) for _qid, t in _BM25_QUERIES])
    queries = spark.range(len(_BM25_QUERIES)).select(
        F.col("id").alias("query_id"),
        F.element_at(texts, (F.col("id") + 1).cast("int"))
        .alias("query_text"))
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, queries, k=_BM25_K)


def _bm25_oracle() -> str:
    from .retrieval import bm25_oracle_sql

    values = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)
    return bm25_oracle_sql(values, k=_BM25_K)


QUERIES_LATE["bm25_search"] = (bm25_search, _bm25_oracle())


# ---------------------------------------------------------------------------
# mixture sampling (training_ops.mixture_sample_df) — per-source
# weighted deterministic keep, the data-mixing stage between cleaning
# and packing.  The gate weights hit all the regimes: weight 0 (source
# dropped entirely), 1.0 (kept whole), and five fractional levels.
# ---------------------------------------------------------------------------

# src0..src19 → weight (i % 8) / 7: includes 0.0 and 1.0 endpoints
_MIX_WEIGHTS = {f"src{i}": (i % 8) / 7 for i in range(20)}


def mixture_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training_ops import mixture_sample_df

    kept = mixture_sample_df(load_table(spark, sf_dir, "documents"),
                             _MIX_WEIGHTS)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.min("doc_id").alias("first_id"),
        F.max("doc_id").alias("last_id"),
        F.sum("doc_id").alias("id_sum"),
    )


def _mixture_oracle() -> str:
    lims = " ".join(
        f"WHEN '{s}' THEN {int(w * 10_000)}"
        for s, w in sorted(_MIX_WEIGHTS.items()))
    return f"""
WITH b AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(doc_id::VARCHAR || ':mix-v1'), 1, 8)
              )::BIGINT % 10000 AS BIGINT) AS bucket,
         CASE source {lims} ELSE 0 END AS lim
  FROM documents
)
SELECT source, count(*)::BIGINT AS n_kept,
       min(doc_id) AS first_id, max(doc_id) AS last_id,
       sum(doc_id)::BIGINT AS id_sum
FROM b WHERE bucket < lim
GROUP BY source
"""


QUERIES_LATE["mixture_sample_counts"] = (mixture_sample_counts,
                                         _mixture_oracle())


# ---------------------------------------------------------------------------
# duplicate substring spans (operators/dedup.duplicate_substring_spans_df)
# — anchor-hash exact-substring dedup signal; the oracle replays the
# window grid + md5 grouping and packs the canonical occurrence with the
# same doc_id·1e6 + pos arithmetic.
# ---------------------------------------------------------------------------

_SPAN_W = 64
_SPAN_S = 16


def duplicate_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import duplicate_substring_spans_df

    return duplicate_substring_spans_df(
        load_table(spark, sf_dir, "documents"),
        window=_SPAN_W, stride=_SPAN_S)


DUP_SUBSTRING_SPANS_ORACLE = f"""
WITH spans AS (
  SELECT doc_id, (i * {_SPAN_S})::BIGINT AS pos,
         md5(substr(text, i * {_SPAN_S} + 1, {_SPAN_W})) AS dig
  FROM (SELECT doc_id, text,
               unnest(generate_series(0,
                   (length(text) - {_SPAN_W}) // {_SPAN_S})) AS i
        FROM documents WHERE length(text) >= {_SPAN_W})
),
agg AS (
  SELECT dig,
         count(DISTINCT doc_id)::BIGINT AS n_docs,
         count(*)::BIGINT AS n_occurrences,
         min(doc_id * 1000000 + pos) AS w
  FROM spans GROUP BY dig
  HAVING count(DISTINCT doc_id) > 1
)
SELECT w // 1000000 AS doc_id, w % 1000000 AS pos, n_docs, n_occurrences
FROM agg
"""


QUERIES_LATE["duplicate_substring_spans"] = (duplicate_substring_spans,
                                             DUP_SUBSTRING_SPANS_ORACLE)


# ---------------------------------------------------------------------------
# persisted BM25 index (retrieval.build_text_index): the probe gate
# shares bm25_search's oracle verbatim — identical semantics, different
# physical path (bucketed postings, tombstone-aware stats) — and the
# stats gate pins the persisted index content against an independent
# from-scratch SQL derivation.
# ---------------------------------------------------------------------------

def bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .retrieval import bm25_search_indexed, ensure_text_index

    index = ensure_text_index(spark, sf_dir)
    texts = F.array(*[F.lit(t) for _qid, t in _BM25_QUERIES])
    queries = spark.range(len(_BM25_QUERIES)).select(
        F.col("id").alias("query_id"),
        F.element_at(texts, (F.col("id") + 1).cast("int"))
        .alias("query_text"))
    return bm25_search_indexed(spark, index, queries, k=_BM25_K)


QUERIES_LATE["bm25_index_search"] = (bm25_index_search, _bm25_oracle())


def bm25_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .retrieval import ensure_text_index, text_index_stats

    return text_index_stats(spark, ensure_text_index(spark, sf_dir))


def _text_index_stats_oracle() -> str:
    from .retrieval import text_index_stats_oracle_sql

    return text_index_stats_oracle_sql()


QUERIES_LATE["bm25_index_stats"] = (bm25_index_stats,
                                    _text_index_stats_oracle())


# ---------------------------------------------------------------------------
# streaming BM25 probe (streaming/documents.bm25_search_streaming):
# query texts stream against the persisted inverted index; oracle = the
# batch BM25 replay with the query CTE drawn from documents.
# ---------------------------------------------------------------------------

_BM25_STREAM_Q = 3


def _bm25_stream_oracle() -> str:
    from .retrieval import bm25_oracle_sql

    return bm25_oracle_sql(
        k=_BM25_K,
        queries_select=(f"SELECT doc_id AS query_id, text AS query_text "
                        f"FROM documents WHERE doc_id < {_BM25_STREAM_Q}"))


def _bm25_search_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.documents import bm25_search_streaming

    return bm25_search_streaming(spark, sf_dir)


QUERIES_LATE["bm25_search_streaming"] = (_bm25_search_streaming,
                                         _bm25_stream_oracle())


# ---------------------------------------------------------------------------
# bigram LM log-probability (the CCNet LM-filter shape one order up from
# unigram_logprob_scores): add-k-smoothed P(w2|w1) with the corpus as
# its own LM.  Same exactness recipe — integer counts, one literal
# double op order, fold left-to-right over the doc's SORTED distinct
# bigrams, terminal 6-dp round.
# ---------------------------------------------------------------------------

_BIGRAM_K = 0.5


def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability
    ``(Σ_(w1,w2) c·ln((cw+k)/(c1+k·V))) / (n_tokens−1)`` — c the doc's
    bigram count, cw/c1 the corpus bigram/context counts, V the unigram
    vocabulary size, k=0.5 add-k smoothing (docs under 2 tokens score
    NULL).

    Scale shape: ONE token explode feeds the doc-bigram counts; the
    corpus bigram table is their re-aggregation (never a second scan)
    and joins back by bigram key (honest shuffle join — bigram vocab is
    corpus-sized); the context table re-aggregates the bigram table by
    w1 and the scalar V broadcasts as a 1-row cross join."""
    from .training_ops import _words

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", _words(F.col("text")).alias("__t"))
    from .training_ops import exploded_word_bigrams

    grams = exploded_word_bigrams(toks, F.col("__t"), keep=("doc_id",),
                                  pair=True)
    dc = grams.groupBy("doc_id", "__w1", "__w2").agg(
        F.count(F.lit(1)).alias("__c"))
    freq = dc.groupBy("__w1", "__w2").agg(F.sum("__c").alias("__cw"))
    ctx = freq.groupBy("__w1").agg(F.sum("__cw").alias("__c1"))
    vocab = (
        docs.select(F.explode(_words(F.col("text"))).alias("__w"))
        .agg(F.countDistinct("__w").alias("__v"))
    )
    k = float(_BIGRAM_K)
    terms = (
        dc.join(freq, ["__w1", "__w2"])
        .join(ctx, "__w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id", "__c",
            F.struct(
                F.col("__w1"), F.col("__w2"),
                (F.col("__c").cast("double")
                 * F.log((F.col("__cw").cast("double") + F.lit(k))
                         / (F.col("__c1").cast("double")
                            + F.lit(k) * F.col("__v").cast("double"))))
                .alias("__t"),
            ).alias("__bt"),
        )
    )
    collected = terms.groupBy("doc_id").agg(
        F.sum("__c").alias("n_bigrams"),
        F.sort_array(F.collect_list("__bt")).alias("__arr"),
    )
    return (
        docs.select("doc_id").join(collected, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.when(
                F.col("n_bigrams") > 0,
                F.round(
                    F.aggregate(F.col("__arr"), F.lit(0.0),
                                lambda a, x: a + x["__t"])
                    / F.col("n_bigrams"), 6),
            ).alias("avg_logprob2"),
        )
    )


BIGRAM_LOGPROB_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
                     t -> t != '') AS ts
  FROM documents
),
grams AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM (SELECT doc_id, ts,
               unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
        FROM tok)
),
dc AS (
  SELECT doc_id, w1, w2, count(*)::BIGINT AS c
  FROM grams GROUP BY doc_id, w1, w2
),
freq AS (
  SELECT w1, w2, sum(c)::BIGINT AS cw FROM dc GROUP BY w1, w2
),
ctx AS (
  SELECT w1, sum(cw)::BIGINT AS c1 FROM freq GROUP BY w1
),
vocab AS (
  SELECT count(DISTINCT t)::BIGINT AS v
  FROM (SELECT unnest(list_filter(string_split_regex(text,
                                  '[ \t\n\x0b\f\r]+'),
               t -> t != '')) AS t
        FROM documents)
),
terms AS (
  SELECT d.doc_id, d.w1, d.w2, d.c,
         d.c::DOUBLE * ln((f.cw::DOUBLE + {_BIGRAM_K})
                          / (x.c1::DOUBLE + {_BIGRAM_K} * vb.v::DOUBLE)) AS t
  FROM dc d
  JOIN freq f USING (w1, w2)
  JOIN ctx x USING (w1)
  CROSS JOIN vocab vb
),
agg AS (
  SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
         list_reduce(list_prepend(0.0::DOUBLE, list(t ORDER BY w1, w2)),
                     (a, b) -> a + b) AS s
  FROM terms GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_bigrams, 0) AS n_bigrams,
       CASE WHEN a.n_bigrams > 0
            THEN round(a.s / a.n_bigrams, 6) END AS avg_logprob2
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


QUERIES_LATE["bigram_logprob_scores"] = (bigram_logprob_scores,
                                         BIGRAM_LOGPROB_ORACLE)


# ---------------------------------------------------------------------------
# hybrid retrieval (retrieval.hybrid_topk_rrf): BM25 + exact-cosine
# channels fused by reciprocal rank.  Queries are the first _HYB_Q
# documents themselves (text from documents, vector from embeddings —
# the id spaces align 1:1 in the testdata), both channels
# self-excluded; the oracle composes the two channel oracles and
# replays the fusion arithmetic in the same literal order.
# ---------------------------------------------------------------------------

_HYB_Q = 3
_HYB_CH_K = 20
_HYB_K = 10
_RRF_C = 60.0


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .retrieval import hybrid_topk_rrf

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qtexts = docs.where(F.col("doc_id") < _HYB_Q).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"))
    qvecs = emb.where(F.col("vec_id") < _HYB_Q)
    return hybrid_topk_rrf(docs, emb, qtexts, qvecs,
                           k=_HYB_K, channel_k=_HYB_CH_K, rrf_c=_RRF_C)


def _hybrid_oracle() -> str:
    from .retrieval import bm25_oracle_sql

    lex = bm25_oracle_sql(
        k=_HYB_CH_K, exclude_self=True,
        queries_select=(f"SELECT doc_id AS query_id, text AS query_text "
                        f"FROM documents WHERE doc_id < {_HYB_Q}"))
    vec = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {_HYB_Q}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
                     AND sqrt(list_dot_product(cv, cv)) > 0
               THEN list_dot_product(qv, cv)
                    / (sqrt(list_dot_product(qv, qv))
                       * sqrt(list_dot_product(cv, cv)))
               ELSE 0.0 END, 6) AS cosine_sim
  FROM q CROSS JOIN c
  WHERE query_id != neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id ASC
                           ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= {_HYB_CH_K}"""
    return _rrf_fuse_sql(lex, vec)


def _rrf_fuse_sql(lex: str, vec: str) -> str:
    """Fusion tail shared by the on-the-fly and indexed hybrid oracles:
    ``lex`` yields (query_id, doc_id, rank), ``vec``
    (query_id, neighbor_id, rank) — the same literal lexical-first RRF
    sum as ``retrieval._rrf_fuse``."""
    return f"""
WITH lex AS ({lex}),
vec AS ({vec}),
fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.doc_id, v.neighbor_id) AS doc_id,
         round(coalesce(1.0 / ({_RRF_C} + l.rank), 0.0)
               + coalesce(1.0 / ({_RRF_C} + v.rank), 0.0), 6) AS rrf_score
  FROM lex l
  FULL OUTER JOIN vec v
    ON l.query_id = v.query_id AND l.doc_id = v.neighbor_id
),
rk AS (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, rrf_score, rank FROM rk WHERE rank <= {_HYB_K}
"""


QUERIES_LATE["hybrid_search_rrf"] = (hybrid_search_rrf, _hybrid_oracle())


def hybrid_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing-deployment hybrid: BM25 over the session's persisted
    text index fused with the persisted IVF index's probe (gate IVF
    params, partial ``n_probe`` — the vector channel IS the audited
    ``ann_ivf_topk`` machinery, so its oracle is the unrolled Lloyd
    replay at channel_k, not the exact scan)."""
    from ..streaming.vectors import ensure_ivf_index
    from .retrieval import ensure_text_index
    from .retrieval import hybrid_search_indexed as _hybrid_indexed

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qtexts = docs.where(F.col("doc_id") < _HYB_Q).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"))
    qvecs = emb.where(F.col("vec_id") < _HYB_Q)
    text_index = ensure_text_index(spark, sf_dir)
    ivf_index = ensure_ivf_index(spark, sf_dir)
    return _hybrid_indexed(
        spark, text_index, ivf_index, qtexts, qvecs,
        k=_HYB_K, channel_k=_HYB_CH_K, rrf_c=_RRF_C, n_probe=_IVF_PROBE)


def _hybrid_indexed_oracle() -> str:
    from .retrieval import bm25_oracle_sql

    lex = bm25_oracle_sql(
        k=_HYB_CH_K, exclude_self=True,
        queries_select=(f"SELECT doc_id AS query_id, text AS query_text "
                        f"FROM documents WHERE doc_id < {_HYB_Q}"))
    vec = _lloyd_oracle(_IVF_LISTS, _IVF_PROBE, _IVF_ITERS,
                        _HYB_Q, _HYB_CH_K)
    return _rrf_fuse_sql(lex, vec)


QUERIES_LATE["hybrid_search_indexed"] = (hybrid_search_indexed,
                                         _hybrid_indexed_oracle())


# exact-phrase retrieval (retrieval.phrase_search): positional-postings
# anchor voting; integer counts end-to-end, so the oracle is exact by
# construction.
_PHRASES = [(0, "sort merge"), (1, "table scan merge"), (2, "hash join")]


def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .retrieval import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    # literal projection, not createDataFrame (the Python-local relation
    # costs seconds per materialization on this host — see CLAUDE.md)
    phrases = F.array(*[F.lit(p) for _qid, p in _PHRASES])
    queries = spark.range(len(_PHRASES)).select(
        F.col("id").alias("query_id"),
        F.element_at(phrases, (F.col("id") + 1).cast("int")).alias("phrase"))
    return phrase_search(docs, queries)


def _phrase_oracle() -> str:
    from .retrieval import phrase_search_oracle_sql

    vals = ", ".join(f"({i}, '{p}')" for i, p in _PHRASES)
    return phrase_search_oracle_sql(vals)


QUERIES_LATE["phrase_search_docs"] = (phrase_search_docs, _phrase_oracle())


# ---------------------------------------------------------------------------
# corpus snapshot diff (operators/merge.snapshot_diff) — the data-ops
# audit between crawl refreshes.  The "new" snapshot is a deterministic
# planted variant (drop %11, revise %7, append %97 at id+1e6 — the
# documents_upsert idiom) so the oracle replays the plant closed-form;
# keys reduce to (id, md5 digest) map-side and only those cross the
# full-outer join.
# ---------------------------------------------------------------------------

def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .merge import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    survived = docs.where(F.col("doc_id") % 11 != 0)
    revised = survived.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text")))
    appended = (
        docs.where(F.col("doc_id") % 97 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("text", F.concat(F.lit("new: "), F.col("text")))
    )
    new = revised.unionByName(appended)
    return (
        snapshot_diff(docs, new, key="doc_id", compare_cols=["text"])
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.min("doc_id").alias("first_id"),
             F.max("doc_id").alias("last_id"),
             F.sum("doc_id").alias("id_sum"))
    )


CORPUS_SNAPSHOT_DIFF_ORACLE = """
WITH new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END
           AS text
  FROM documents WHERE doc_id % 11 != 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new: ' || text AS text
  FROM documents WHERE doc_id % 97 = 0
),
o AS (SELECT doc_id, md5(coalesce(text, chr(0))) AS ho FROM documents),
n AS (SELECT doc_id, md5(coalesce(text, chr(0))) AS hn FROM new),
d AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.ho != n.hn THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
)
SELECT status, count(*)::BIGINT AS n_docs,
       min(doc_id) AS first_id, max(doc_id) AS last_id,
       sum(doc_id)::BIGINT AS id_sum
FROM d GROUP BY status
"""


QUERIES_LATE["corpus_snapshot_diff"] = (corpus_snapshot_diff,
                                        CORPUS_SNAPSHOT_DIFF_ORACLE)


# ---------------------------------------------------------------------------
# corpus vocabulary statistics (dataset-card lexical metrics) — one
# explode feeding two aggregates; every output is an integer count or a
# double division of integer counts.
# ---------------------------------------------------------------------------

def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus lexical profile: token count, vocabulary size,
    hapax count (frequency-1 types), type-token ratio and hapax share —
    the quick-look numbers a dataset card reports before training."""
    from .training_ops import _words

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(_words(F.col("text"))).alias("__w"))
        .groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    )
    return freq.agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).cast("long")
        .alias("n_hapax"),
        F.round(F.count(F.lit(1)).cast("double")
                / F.sum("__c").cast("double"), 6).alias("type_token_ratio"),
        F.round(F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
                .cast("double")
                / F.count(F.lit(1)).cast("double"), 6).alias("hapax_share"),
    )


VOCAB_STATS_ORACLE = r"""
WITH freq AS (
  SELECT t AS w, count(*)::BIGINT AS c
  FROM (SELECT unnest(list_filter(string_split_regex(text,
                                  '[ \t\n\x0b\f\r]+'),
               t -> t != '')) AS t
        FROM documents)
  GROUP BY t
)
SELECT sum(c)::BIGINT AS n_tokens,
       count(*)::BIGINT AS vocab_size,
       sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
       round(count(*)::DOUBLE / sum(c)::DOUBLE, 6) AS type_token_ratio,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE
             / count(*)::DOUBLE, 6) AS hapax_share
FROM freq
"""


QUERIES_LATE["vocab_stats"] = (vocab_stats, VOCAB_STATS_ORACLE)


# ---------------------------------------------------------------------------
# Zipf power-law fit (dataset-card lexical diagnostics): least-squares
# slope/intercept of ln(freq) on ln(rank) over the top-N types.  The
# top-N selection is a distributed TakeOrdered (never a global window
# over the full vocabulary); per-type log terms are 6-dp-quantized then
# DECIMAL-summed (exact, order-independent — the money discipline for
# irrational doubles), and the closed-form slope runs in ONE literal
# double op order after casting the decimal sums.
# ---------------------------------------------------------------------------

_ZIPF_TOP_N = 1000


def zipf_fit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .training_ops import _words

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(_words(F.col("text"))).alias("__w"))
        .groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    )
    top = freq.orderBy(F.col("__c").desc(), F.col("__w").asc()) \
        .limit(_ZIPF_TOP_N)
    w = Window.orderBy(F.col("__c").desc(), F.col("__w").asc())
    ranked = top.withColumn("__r", F.row_number().over(w))
    x = F.round(F.log(F.col("__r").cast("double")), 6)
    y = F.round(F.log(F.col("__c").cast("double")), 6)
    terms = ranked.select(
        x.cast("decimal(28,6)").alias("__x"),
        y.cast("decimal(28,6)").alias("__y"),
        F.round(x * y, 6).cast("decimal(28,6)").alias("__xy"),
        F.round(x * x, 6).cast("decimal(28,6)").alias("__xx"),
    )
    sums = terms.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.expr("CAST(SUM(__x) AS DOUBLE)").alias("__sx"),
        F.expr("CAST(SUM(__y) AS DOUBLE)").alias("__sy"),
        F.expr("CAST(SUM(__xy) AS DOUBLE)").alias("__sxy"),
        F.expr("CAST(SUM(__xx) AS DOUBLE)").alias("__sxx"),
    )
    # degenerate vocabularies (0 or 1 distinct rank → denominator 0)
    # must yield NULL, not raise: Spark 4 runs ANSI mode where double
    # x/0 THROWS, while DuckDB returns NULL — both sides guard with an
    # explicit CASE so the op sequences stay identical
    num = (F.col("__n") * F.col("__sxy")) - (F.col("__sx") * F.col("__sy"))
    den = (F.col("__n") * F.col("__sxx")) - (F.col("__sx") * F.col("__sx"))
    slope = F.when(den != F.lit(0.0), num / den)
    intercept = F.when(
        F.col("__n") != F.lit(0.0),
        (F.col("__sy") - (F.round(slope, 6) * F.col("__sx"))) / F.col("__n"))
    return sums.select(
        F.col("__n").cast("long").alias("n_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


ZIPF_FIT_ORACLE = rf"""
WITH freq AS (
  SELECT t AS w, count(*)::BIGINT AS c
  FROM (SELECT unnest(list_filter(string_split_regex(text,
                                  '[ \t\n\x0b\f\r]+'),
               t -> t != '')) AS t
        FROM documents)
  GROUP BY t
),
top_n AS (
  SELECT w, c FROM freq ORDER BY c DESC, w ASC LIMIT {_ZIPF_TOP_N}
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, w ASC) AS r FROM top_n
),
terms AS (
  SELECT round(ln(r::DOUBLE), 6)::DECIMAL(28,6) AS x,
         round(ln(c::DOUBLE), 6)::DECIMAL(28,6) AS y,
         round(round(ln(r::DOUBLE), 6) * round(ln(c::DOUBLE), 6),
               6)::DECIMAL(28,6) AS xy,
         round(round(ln(r::DOUBLE), 6) * round(ln(r::DOUBLE), 6),
               6)::DECIMAL(28,6) AS xx
  FROM ranked
),
sums AS (
  SELECT count(*)::DOUBLE AS n,
         sum(x)::DOUBLE AS sx, sum(y)::DOUBLE AS sy,
         sum(xy)::DOUBLE AS sxy, sum(xx)::DOUBLE AS sxx
  FROM terms
)
SELECT n::BIGINT AS n_types,
       round(CASE WHEN ((n * sxx) - (sx * sx)) != 0.0
             THEN ((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx)) END, 6)
         AS zipf_slope,
       round(CASE WHEN n != 0.0
             THEN (sy - (round(CASE WHEN ((n * sxx) - (sx * sx)) != 0.0
                               THEN ((n * sxy) - (sx * sy))
                                    / ((n * sxx) - (sx * sx)) END, 6)
                         * sx)) / n END, 6)
         AS zipf_intercept
FROM sums
"""

QUERIES_LATE["zipf_fit_stats"] = (zipf_fit_stats, ZIPF_FIT_ORACLE)


# ---------------------------------------------------------------------------
# PMI collocations — pointwise mutual information of adjacent word
# pairs: ln((c12·N) / (c1·c2)) over integer counts (one ln per pair, no
# fold needed), min-count filtered, top-k by rounded PMI with (w1, w2)
# tie-breaks.  Reuses the bigram machinery's explode shape.
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_K = 50


def pmi_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .training_ops import _words, exploded_word_bigrams

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _words(F.col("text")).alias("__t"))
    # slice+zip form (codegen; also closes the latent sequence(1, 0)
    # descending-range ANSI hazard this site still carried for 1-token
    # docs — greatest() does NOT protect element_at, CLAUDE.md)
    grams = exploded_word_bigrams(toks, F.col("__t"), pair=True).select(
        F.col("__w1").alias("w1"), F.col("__w2").alias("w2"))
    pair = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    # unigram counts AS BIGRAM ENDPOINTS (left/right marginals of the
    # pair table — no second corpus scan, and the PMI normalization is
    # exactly the marginal probability of the pair distribution)
    left = pair.groupBy("w1").agg(F.sum("__c12").alias("__c1"))
    right = pair.groupBy("w2").agg(F.sum("__c12").alias("__c2"))
    total = pair.agg(F.sum("__c12").alias("__n"))
    pmi = F.log(
        (F.col("__c12").cast("double") * F.col("__n").cast("double"))
        / (F.col("__c1").cast("double") * F.col("__c2").cast("double")))
    scored = (
        pair.where(F.col("__c12") >= _PMI_MIN_COUNT)
        .join(left, "w1").join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", F.col("__c12").cast("long").alias("n_pair"),
                F.round(pmi, 6).alias("pmi"))
    )
    # global top-k WITHOUT the single-partition window funnel: orderBy +
    # limit plans as a distributed TakeOrderedAndProject; the rank
    # window then runs over only the k survivors
    top = scored.orderBy(F.col("pmi").desc(), F.col("w1").asc(),
                         F.col("w2").asc()).limit(_PMI_K)
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1").asc(),
                       F.col("w2").asc())
    return top.withColumn("rank", F.row_number().over(w))


PMI_TOP_PAIRS_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
                     t -> t != '') AS ts
  FROM documents
),
grams AS (
  SELECT ts[i] AS w1, ts[i + 1] AS w2
  FROM (SELECT doc_id, ts,
               unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
        FROM tok)
),
pair AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM grams GROUP BY w1, w2),
lft AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM pair GROUP BY w1),
rgt AS (SELECT w2, sum(c12)::BIGINT AS c2 FROM pair GROUP BY w2),
tot AS (SELECT sum(c12)::BIGINT AS n FROM pair),
scored AS (
  SELECT p.w1, p.w2, p.c12 AS n_pair,
         round(ln((p.c12::DOUBLE * t.n::DOUBLE)
                  / (l.c1::DOUBLE * r.c2::DOUBLE)), 6) AS pmi
  FROM pair p JOIN lft l USING (w1) JOIN rgt r USING (w2) CROSS JOIN tot t
  WHERE p.c12 >= {_PMI_MIN_COUNT}
),
rk AS (
  SELECT w1, w2, n_pair, pmi,
         row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rank
  FROM scored
)
SELECT w1, w2, n_pair, pmi, rank FROM rk WHERE rank <= {_PMI_K}
"""


QUERIES_LATE["pmi_top_pairs"] = (pmi_top_pairs, PMI_TOP_PAIRS_ORACLE)


# ---------------------------------------------------------------------------
# near-dup similarity histogram — the threshold-tuning artifact: mined
# verified pairs bucketed by jaccard (width 0.05), so an operator can
# see how much a threshold move costs BEFORE re-running dedup.
# Composes the WORD-bigram pair miner (the cheapest audited miner whose
# low 0.4 threshold yields a wide, informative histogram); the oracle
# stacks its CTE and replays the bucket arithmetic (floor over an exact
# 6-dp-rounded jaccard — both engines bucket the same rounded value).
# ---------------------------------------------------------------------------

def near_dup_threshold_histogram(spark: SparkSession, sf_dir: str
                                 ) -> DataFrame:
    from .lsh_queries import word_bigram_near_dup_pairs

    pairs = word_bigram_near_dup_pairs(spark, sf_dir)
    bucket = F.floor(F.col("jaccard") / F.lit(0.05)).cast("int")
    return (
        pairs.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
             F.min("jaccard").alias("min_jaccard"),
             F.max("jaccard").alias("max_jaccard"))
        .withColumn("bucket_lo",
                    F.round(F.col("bucket").cast("double") * F.lit(0.05), 2))
    )


def _near_dup_hist_oracle() -> str:
    from .lsh_queries import QUERIES as _LSH_QUERIES

    pairs_sql = _LSH_QUERIES["word_bigram_near_dup_pairs"][1]
    return f"""
WITH pairs AS ({pairs_sql})
SELECT floor(jaccard / 0.05)::INT AS bucket,
       count(*)::BIGINT AS n_pairs,
       min(jaccard) AS min_jaccard,
       max(jaccard) AS max_jaccard,
       round(floor(jaccard / 0.05)::INT::DOUBLE * 0.05::DOUBLE, 2) AS bucket_lo
FROM pairs
GROUP BY floor(jaccard / 0.05)::INT
"""


QUERIES_LATE["near_dup_threshold_histogram"] = (near_dup_threshold_histogram,
                                                _near_dup_hist_oracle())


# ---------------------------------------------------------------------------
# per-source quality report — the dataset-card rollup of the quality
# stage: per source, document/token volume, mean quality (exact-decimal
# style: double division of a SORTED sequential fold is overkill here —
# quality scores are already 6-dp-rounded per doc, so the mean uses the
# decimal-sum trick), keep-rate at the clean_corpus threshold.
# ---------------------------------------------------------------------------

def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source",
        T.token_count("text").alias("__toks"),
        # per-doc quality is 6-dp rounded -> a DECIMAL(18,6) sum is
        # exact and summation-order independent (the money discipline)
        F.round(T.quality_score("text"), 6).cast("decimal(18,6)")
        .alias("__q"),
        (T.quality_score("text") >= _CLEAN_Q_MIN).alias("__keep"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__toks").cast("long").alias("n_tokens"),
            # cast the exact decimal sum to DOUBLE BEFORE dividing (the
            # q22 idiom): DuckDB's '/' on DECIMAL operands degrades to
            # IEEE double division, so Spark's exact decimal division
            # would use a different op sequence before the 6dp round
            F.expr("CAST(round(CAST(SUM(__q) AS DOUBLE) / COUNT(*), 6) "
                   "AS DOUBLE)").alias("avg_quality"),
            F.round(F.sum(F.when(F.col("__keep"), 1).otherwise(0))
                    .cast("double") / F.count(F.lit(1)).cast("double"), 6)
            .alias("keep_rate"),
        )
    )


def _source_quality_oracle() -> str:
    return f"""
WITH q AS ({_text_quality_oracle('documents')}),
toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) END
           AS n_toks,
         source
  FROM documents
)
SELECT t.source,
       count(*)::BIGINT AS n_docs,
       sum(t.n_toks)::BIGINT AS n_tokens,
       round(sum(round(q.quality, 6)::DECIMAL(18,6)) / count(*),
             6)::DOUBLE AS avg_quality,
       round(sum(CASE WHEN q.quality >= {_CLEAN_Q_MIN} THEN 1 ELSE 0 END
                )::DOUBLE / count(*)::DOUBLE, 6) AS keep_rate
FROM toks t JOIN q USING (doc_id)
GROUP BY t.source
"""


QUERIES_LATE["source_quality_report"] = (source_quality_report,
                                         _source_quality_oracle())


# ---------------------------------------------------------------------------
# vector dataset card (embedding_stats) + ANN recall audit
# (ann_recall_report).  Exactness recipes: per-vector norms are the
# audited sequential dot/sqrt; corpus means go through the 6-dp-round →
# DECIMAL(18,6) sum trick (summation-order independent); recall is
# integer set intersection over the two audited top-k result sets.
# ---------------------------------------------------------------------------

def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row vector-corpus profile: count, dimension, zero-vector
    count, min/max/mean L2 norm — the sanity numbers checked before
    building any vector index."""
    from .ann import norm

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        F.size("embedding").alias("__dim"),
        F.round(norm(F.col("embedding").cast("array<double>")), 6)
        .alias("__n"))
    return v.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.min("__dim").cast("int").alias("dim_min"),
        F.max("__dim").cast("int").alias("dim_max"),
        F.sum(F.when(F.col("__n") == 0.0, 1).otherwise(0)).cast("long")
        .alias("n_zero_vectors"),
        F.min("__n").alias("min_norm"),
        F.max("__n").alias("max_norm"),
        # decimal sum (exact, order-independent) -> DOUBLE before the
        # division, matching DuckDB's double-degrading '/' op order
        F.expr("CAST(round(CAST(SUM(CAST(__n AS DECIMAL(18,6))) AS DOUBLE) "
               "/ COUNT(*), 6) AS DOUBLE)").alias("avg_norm"),
    )


EMBEDDING_STATS_ORACLE = """
WITH v AS (
  SELECT len(embedding) AS dim,
         round(sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])), 6) AS n
  FROM embeddings
)
SELECT count(*)::BIGINT AS n_vectors,
       min(dim)::INT AS dim_min,
       max(dim)::INT AS dim_max,
       sum(CASE WHEN n = 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_vectors,
       min(n) AS min_norm,
       max(n) AS max_norm,
       round(sum(n::DECIMAL(18,6)) / count(*), 6)::DOUBLE AS avg_norm
FROM v
"""


QUERIES_LATE["embedding_stats"] = (embedding_stats, EMBEDDING_STATS_ORACLE)


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN against the exact scan, per
    query plus ids of the misses' count — the measurement an ANN
    deployment watches when retuning band parameters.  Composes the two
    audited top-k operators; recall is pure integer set arithmetic."""
    exact = ann_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("__e"))
    approx = ann_lsh_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("__a"))
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (F.col("__e") == F.col("__a")),
    ).groupBy(exact.query_id.alias("query_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"))
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id", "n_exact",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"))
        .withColumn(
            "recall",
            F.round(F.col("n_hits").cast("double")
                    / F.col("n_exact").cast("double"), 6))
    )
    return per_q


def _ann_recall_oracle() -> str:
    lsh_sql = _orc.ann_lsh_topk_sql(2.0, 8, 1, 123, 64, k=_ANN_K,
                                    n_queries=_N_QUERIES)
    return f"""
WITH exact_k AS ({ANN_TOPK_ORACLE}),
approx_k AS ({lsh_sql}),
hits AS (
  SELECT e.query_id, count(*)::BIGINT AS n_hits
  FROM exact_k e JOIN approx_k a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
),
base AS (
  SELECT query_id, count(*)::BIGINT AS n_exact
  FROM exact_k GROUP BY query_id
)
SELECT b.query_id, b.n_exact,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       round(coalesce(h.n_hits, 0)::DOUBLE / b.n_exact::DOUBLE, 6) AS recall
FROM base b LEFT JOIN hits h USING (query_id)
"""


QUERIES_LATE["ann_recall_report"] = (ann_recall_report, _ann_recall_oracle())


# ---------------------------------------------------------------------------
# product-quantization ANN (ann.pq_topk — the FAISS PQ/ADC recipe):
# m per-subspace Lloyd codebooks (the deterministic fixed-point trainer,
# so the oracle unrolls m independent Lloyd chains over array slices),
# corpus stored as m small ints, per-query LUT summed in subspace order.
# ---------------------------------------------------------------------------

_PQ_M = 4
_PQ_CODES = 8
_PQ_ITERS = 2
_PQ_DIM = 64


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ann.pq_topk(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), k=_ANN_K,
        m=_PQ_M, n_codes=_PQ_CODES, n_iters=_PQ_ITERS, dim=_PQ_DIM)


def _pq_oracle(m: int, n_codes: int, n_iters: int, n_queries: int,
               k: int, dim: int) -> str:
    """DuckDB replay of ``ann.pq_topk``: one unrolled Lloyd chain per
    subspace over the array slice, codes from the final assignment,
    ADC distance as a list_reduce fold over the per-subspace LUT terms
    in subspace order — the Spark side's literal
    ``((0 + d_0) + d_1) + ...`` chain."""
    width = dim // m
    ctes = []
    term_selects = []
    for s in range(m):
        lo, hi = s * width + 1, (s + 1) * width
        sfx = f"_s{s}"
        ctes.extend(_lloyd_cell_ctes(
            n_codes, n_iters, sfx=sfx,
            vexpr=f"(embedding::DOUBLE[])[{lo}:{hi}]"))
        term_selects.append(
            f"""  SELECT q.query_id, cc.neighbor_id, {s} AS s,
         {_SQDIST.format(a=f'(q.v)[{lo}:{hi}]', b='ct.cv')} AS d
  FROM q CROSS JOIN c_cells{sfx} cc
  JOIN cent_{n_iters}{sfx} ct ON ct.cell = cc.cell""")
    ctes.append(f"""q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < {n_queries})""")
    ctes.append("terms AS (\n"
                + "\n  UNION ALL\n".join(term_selects) + "\n)")
    ctes.append("""scored AS (
  SELECT query_id, neighbor_id,
         round(list_reduce(list_prepend(0.0::DOUBLE, list(d ORDER BY s)),
                           (a, x) -> a + x), 6) AS approx_dist
  FROM terms WHERE query_id != neighbor_id
  GROUP BY query_id, neighbor_id
)""")
    ctes.append("""ranked AS (
  SELECT query_id, neighbor_id, approx_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_dist ASC, neighbor_id ASC
                           ) AS rank
  FROM scored
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT query_id, neighbor_id, approx_dist, rank"
              f" FROM ranked WHERE rank <= {k}")


ANN_PQ_ORACLE = _pq_oracle(_PQ_M, _PQ_CODES, _PQ_ITERS, _N_QUERIES,
                           _ANN_K, _PQ_DIM)

QUERIES_LATE["ann_pq_topk"] = (ann_pq_topk, ANN_PQ_ORACLE)


def ann_pq_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``ann_pq_topk`` workload against the session's PERSISTED PQ
    index (ensure_pq_index — encode once, probe many): same parameters,
    so it carries the identical exact oracle; the persisted codes and
    codebooks are thereby pinned against an independent from-scratch
    derivation every round."""
    from ..streaming.vectors import ensure_pq_index
    from .ann import search_pq_index

    index = ensure_pq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return search_pq_index(
        spark, index, emb.where(F.col("vec_id") < _N_QUERIES), k=_ANN_K)


QUERIES_LATE["ann_pq_index_search"] = (ann_pq_index_search, ANN_PQ_ORACLE)


def ann_pq_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live-content statistics of the persisted PQ index; the oracle
    recomputes the codes from scratch (the m unrolled Lloyd chains), so
    persisted state is checked against an independent derivation — the
    lsh_index_stats contract."""
    from ..streaming.vectors import ensure_pq_index
    from .ann import pq_index_stats

    index = ensure_pq_index(spark, sf_dir)
    return pq_index_stats(spark, index)


def _pq_stats_oracle(m: int, n_codes: int, n_iters: int, dim: int) -> str:
    width = dim // m
    ctes = []
    for s in range(m):
        lo, hi = s * width + 1, (s + 1) * width
        ctes.extend(_lloyd_cell_ctes(
            n_codes, n_iters, sfx=f"_s{s}",
            vexpr=f"(embedding::DOUBLE[])[{lo}:{hi}]"))
    joins = "".join(
        f" JOIN c_cells_s{s} c{s} USING (neighbor_id)" for s in range(1, m))
    ctes.append(f"""words AS (
  SELECT c0.neighbor_id, {", ".join(f"c{s}.cell AS w{s}" for s in range(m))}
  FROM c_cells_s0 c0{joins}
)""")
    tup = ", ".join(f"w{s}" for s in range(m))
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT count(*)::BIGINT AS n_vectors,
       {m}::INT AS m, {n_codes}::INT AS n_codes, {dim}::INT AS dim,
       count(DISTINCT ({tup}))::BIGINT AS n_distinct_codewords
FROM words
""")


QUERIES_LATE["ann_pq_index_stats"] = (
    ann_pq_index_stats,
    _pq_stats_oracle(_PQ_M, _PQ_CODES, _PQ_ITERS, _PQ_DIM))


def _pq_search_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    # late-registered here (not in streaming_vectors.QUERIES) so the
    # earlier registry positions stay stable — the QUERIES_LATE contract
    from ..streaming.vectors import ann_pq_search_streaming

    return ann_pq_search_streaming(spark, sf_dir)


QUERIES_LATE["ann_pq_search_streaming"] = (_pq_search_streaming,
                                           ANN_PQ_ORACLE)


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (ann.ivf_pq_topk): coarse-cell pruning × PQ compression,
    both trained by the deterministic fixed-point Lloyd — the oracle
    composes the IVF chain (cells + probes) with the m PQ chains and
    restricts the ADC fold to probed cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann.ivf_pq_topk(
        emb, emb.where(F.col("vec_id") < _N_QUERIES), k=_ANN_K,
        n_lists=_IVF_LISTS, n_probe=_IVF_PROBE, cells_iters=_IVF_ITERS,
        m=_PQ_M, n_codes=_PQ_CODES, pq_iters=_PQ_ITERS, dim=_PQ_DIM)


def _ivf_pq_oracle(n_lists: int, n_probe: int, cells_iters: int, m: int,
                   n_codes: int, pq_iters: int, n_queries: int, k: int,
                   dim: int) -> str:
    """Compose the coarse-quantizer chain (default CTE names) with the
    m per-subspace PQ chains (``_s{s}``): candidates are (probe ⨝ cell)
    pairs, each scored by the ADC fold over the neighbor's per-subspace
    codes."""
    width = dim // m
    ctes = _lloyd_cell_ctes(n_lists, cells_iters)
    cent = f"cent_{cells_iters}"
    term_selects = []
    for s in range(m):
        lo, hi = s * width + 1, (s + 1) * width
        ctes.extend(_lloyd_cell_ctes(
            n_codes, pq_iters, sfx=f"_s{s}",
            vexpr=f"(embedding::DOUBLE[])[{lo}:{hi}]"))
        term_selects.append(
            f"""  SELECT p.query_id, cc.neighbor_id, {s} AS s,
         {_SQDIST.format(a=f'(p.v)[{lo}:{hi}]', b='ct.cv')} AS d
  FROM probes p
  JOIN c_cells cc USING (cell)
  JOIN c_cells_s{s} cs ON cs.neighbor_id = cc.neighbor_id
  JOIN cent_{pq_iters}_s{s} ct ON ct.cell = cs.cell""")
    ctes.append(f"""q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < {n_queries})""")
    ctes.append(f"""probes AS (
  SELECT query_id, v, cell FROM (
    SELECT query_id, v, cell,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY {_SQDIST.format(a='v', b='cv')} ASC, cell ASC) AS r
    FROM q CROSS JOIN {cent}
  ) WHERE r <= {n_probe}
)""")
    ctes.append("terms AS (\n"
                + "\n  UNION ALL\n".join(term_selects) + "\n)")
    ctes.append("""scored AS (
  SELECT query_id, neighbor_id,
         round(list_reduce(list_prepend(0.0::DOUBLE, list(d ORDER BY s)),
                           (a, x) -> a + x), 6) AS approx_dist
  FROM terms WHERE query_id != neighbor_id
  GROUP BY query_id, neighbor_id
)""")
    ctes.append("""ranked AS (
  SELECT query_id, neighbor_id, approx_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_dist ASC, neighbor_id ASC
                           ) AS rank
  FROM scored
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT query_id, neighbor_id, approx_dist, rank"
              f" FROM ranked WHERE rank <= {k}")


ANN_IVF_PQ_ORACLE = _ivf_pq_oracle(
    _IVF_LISTS, _IVF_PROBE, _IVF_ITERS, _PQ_M, _PQ_CODES,
    _PQ_ITERS, _N_QUERIES, _ANN_K, _PQ_DIM)

QUERIES_LATE["ann_ivf_pq_topk"] = (ann_ivf_pq_topk, ANN_IVF_PQ_ORACLE)


def ann_ivf_pq_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``ann_ivf_pq_topk`` workload against the session's PERSISTED
    two-level index (ensure_ivf_pq_index): same parameters → the same
    composed oracle, so the persisted bucketed codes, coarse centroids
    and codebooks are pinned against a from-scratch derivation."""
    from ..streaming.vectors import ensure_ivf_pq_index
    from .ann import search_ivf_pq_index

    index = ensure_ivf_pq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return search_ivf_pq_index(
        spark, index, emb.where(F.col("vec_id") < _N_QUERIES),
        k=_ANN_K, n_probe=_IVF_PROBE)


QUERIES_LATE["ann_ivf_pq_index_search"] = (ann_ivf_pq_index_search,
                                           ANN_IVF_PQ_ORACLE)


# ---------------------------------------------------------------------------
# curriculum staging — quality-quantile bucketing for curriculum-ordered
# training (easy→hard): exact distributed percentile boundaries (Spark
# `percentile` and DuckDB `quantile_cont` are BIT-equal on identical
# 6dp-rounded inputs — probe-verified across interpolating fractions),
# stage = 1 + count(boundaries strictly below).  No global sort and no
# full-corpus window: boundaries are one map-side-combined aggregate
# broadcast as a 1-row frame; the stage is a per-row expression.
# ---------------------------------------------------------------------------

_CURR_STAGES = 4


def curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", F.round(T.quality_score("text"), 6).alias("quality"))
    n = _CURR_STAGES
    bounds = scored.agg(*[
        F.expr(f"percentile(quality, {i / n!r})").alias(f"__b{i}")
        for i in range(1, n)])
    stage = F.lit(1)
    for i in range(1, n):
        stage = stage + F.when(F.col("quality") > F.col(f"__b{i}"),
                               1).otherwise(0)
    return (
        scored.crossJoin(F.broadcast(bounds))
        .select("doc_id", "quality", stage.cast("int").alias("stage"))
    )


def _curriculum_oracle() -> str:
    n = _CURR_STAGES
    bs = ", ".join(
        f"quantile_cont(quality, {i / n!r}) AS b{i}" for i in range(1, n))
    terms = " + ".join(
        f"(CASE WHEN quality > b{i} THEN 1 ELSE 0 END)"
        for i in range(1, n))
    return f"""
WITH tq AS ({_text_quality_oracle('documents')}),
q AS (SELECT doc_id, quality FROM tq),
b AS (SELECT {bs} FROM q)
SELECT doc_id, quality, (1 + {terms})::INT AS stage
FROM q CROSS JOIN b
"""


QUERIES_LATE["curriculum_stages"] = (curriculum_stages,
                                     _curriculum_oracle())


# ---------------------------------------------------------------------------
# sparse TF-IDF cosine similarity join (operators/sparse_sim.py) — the
# weighted-vector near-dup signal: word-bigram TF-IDF vectors, pairs
# above a cosine threshold via the inverted-index (df-cut) join, never
# an all-pairs pass.
# ---------------------------------------------------------------------------

_TFIDF_COS_THRESHOLD = 0.3  # df cap N/20: the corpus bigram df curve
_TFIDF_COS_DF_DEN = 20      # has a cliff — N/10 admits 36M pair
                            # products at sf0.1, N/20 admits 0.5M for
                            # the same planted-dup recall


def tfidf_cosine_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sparse_sim import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=_TFIDF_COS_THRESHOLD, max_df_num=1,
        max_df_den=_TFIDF_COS_DF_DEN)


def _tfidf_cosine_oracle() -> str:
    from .sparse_sim import tfidf_cosine_oracle_sql

    return tfidf_cosine_oracle_sql(
        _TFIDF_COS_THRESHOLD, max_df_num=1, max_df_den=_TFIDF_COS_DF_DEN)


QUERIES_LATE["tfidf_cosine_pairs"] = (tfidf_cosine_pairs_q,
                                      _tfidf_cosine_oracle())


# ---------------------------------------------------------------------------
# edit-distance near-dup pairs (operators/similarity_join.py::
# lsh_edit_distance_pairs) — character-level Levenshtein verification
# over LSH band candidates; the verify-stage complement to the Jaccard
# family for template/boilerplate detection.
# ---------------------------------------------------------------------------

_EDIT_BANDS = (2, 14)       # much tighter than the Jaccard flagship
_EDIT_THRESHOLD = 0.4       # (6, 6): candidates bound the O(len²)
                            # verify, and this corpus' tiny vocabulary
                            # puts RANDOM doc pairs at ~0.35 trigram
                            # jaccard — loose bands collide en masse


def edit_distance_near_dup_pairs(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from .similarity_join import lsh_edit_distance_pairs

    return lsh_edit_distance_pairs(
        load_table(spark, sf_dir, "documents"), "text", id_col="doc_id",
        ngram_width=3, band_count=_EDIT_BANDS[0],
        band_size=_EDIT_BANDS[1], seed=123, threshold=_EDIT_THRESHOLD)


QUERIES_LATE["edit_distance_near_dup_pairs"] = (
    edit_distance_near_dup_pairs,
    _orc.edit_distance_pairs_sql(3, _EDIT_BANDS[0], _EDIT_BANDS[1], 123,
                                 _EDIT_THRESHOLD))


# ---------------------------------------------------------------------------
# temperature-scaled mixture plan (training_ops.mixture_temperature_plan)
# — p_s ∝ n_s^T re-balancing across sources, the planning complement to
# mixture_sample_df's execution stage.
# ---------------------------------------------------------------------------

def mixture_temperature_plan_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from .training_ops import mixture_temperature_plan

    return mixture_temperature_plan(
        load_table(spark, sf_dir, "documents"),
        temperature=0.7, budget=100_000)


def _mixture_temperature_oracle() -> str:
    from .training_ops import mixture_temperature_oracle_sql

    return mixture_temperature_oracle_sql(0.7, 100_000)


QUERIES_LATE["mixture_temperature_plan"] = (mixture_temperature_plan_q,
                                            _mixture_temperature_oracle())


# ---------------------------------------------------------------------------
# asymmetric containment pairs (similarity_join.lsh_containment_pairs)
# — the doc-in-doc signal (quote/boilerplate detection) that Jaccard
# misses; banding recall caveat documented on the operator.
# ---------------------------------------------------------------------------

def containment_near_dup_pairs(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from .similarity_join import lsh_containment_pairs

    return lsh_containment_pairs(
        load_table(spark, sf_dir, "documents"), "text", id_col="doc_id",
        ngram_width=3, band_count=6, band_size=6, seed=123, threshold=0.8)


QUERIES_LATE["containment_near_dup_pairs"] = (
    containment_near_dup_pairs,
    _orc.containment_pairs_sql(3, 6, 6, 123, 0.8))


# ---------------------------------------------------------------------------
# fixed-iteration PageRank over the events user-item graph
# (operators/graph.py) — the iterative-algorithm class with an exact
# unrolled-CTE oracle: quantized contributions DECIMAL-summed make the
# per-iteration float arithmetic order-independent in both engines.
# ---------------------------------------------------------------------------

_PAGERANK_ITERS = 3


def events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import pagerank_undirected, user_item_edges

    ev = load_table(spark, sf_dir, "events")
    pr = pagerank_undirected(user_item_edges(ev), iters=_PAGERANK_ITERS)
    return pr.select(
        F.when(F.col("node") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("item")).alias("kind"),
        F.expr("node DIV 2").alias("id"),
        "rank",
    )


def _pagerank_oracle() -> str:
    from .graph import pagerank_oracle_sql

    return pagerank_oracle_sql(_PAGERANK_ITERS)


QUERIES_LATE["events_pagerank"] = (events_pagerank, _pagerank_oracle())


# ---------------------------------------------------------------------------
# item co-occurrence (operators/graph.py) — market-basket pairs over
# the events user-item graph with the heavy-user skew cap.
# ---------------------------------------------------------------------------

def item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import item_cooccurrence_pairs

    return item_cooccurrence_pairs(
        load_table(spark, sf_dir, "events"),
        min_support_num=1, min_support_den=4, max_items_per_user=1000)


def _item_cooccurrence_oracle() -> str:
    from .graph import item_cooccurrence_oracle_sql

    return item_cooccurrence_oracle_sql(1, 4, 1000)


QUERIES_LATE["item_cooccurrence"] = (item_cooccurrence,
                                     _item_cooccurrence_oracle())


# ---------------------------------------------------------------------------
# indexed phrase search — the standing-deployment phrase form over the
# positional text index (same oracle as phrase_search_docs verbatim:
# the indexed probe equals the on-the-fly operator by construction).
# ---------------------------------------------------------------------------

def phrase_search_indexed_docs(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from .retrieval import ensure_text_index, phrase_search_indexed

    index = ensure_text_index(spark, sf_dir)
    phrases = F.array(*[F.lit(p) for _qid, p in _PHRASES])
    queries = spark.range(len(_PHRASES)).select(
        F.col("id").alias("query_id"),
        F.element_at(phrases, (F.col("id") + 1).cast("int")).alias("phrase"))
    return phrase_search_indexed(spark, index, queries)


QUERIES_LATE["phrase_search_indexed_docs"] = (phrase_search_indexed_docs,
                                              _phrase_oracle())


def _phrase_search_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    # late-registered here (the QUERIES_LATE contract — see
    # _pq_search_streaming): earlier registry positions stay stable
    from ..streaming.documents import phrase_search_streaming

    return phrase_search_streaming(spark, sf_dir)


QUERIES_LATE["phrase_search_streaming"] = (_phrase_search_streaming,
                                           _phrase_oracle())


# ---------------------------------------------------------------------------
# epoch shuffle plan + BPE pair counts (training_ops) — deterministic
# per-epoch data ordering and the first tokenizer-training merge step.
# ---------------------------------------------------------------------------

def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training_ops import epoch_shuffle_plan

    return epoch_shuffle_plan(load_table(spark, sf_dir, "documents"),
                              epochs=3, n_shards=8)


def _epoch_shuffle_oracle() -> str:
    from .training_ops import epoch_shuffle_oracle_sql

    return epoch_shuffle_oracle_sql(3, 8)


QUERIES_LATE["epoch_shuffle"] = (epoch_shuffle, _epoch_shuffle_oracle())


def bpe_pair_top_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training_ops import bpe_pair_counts

    return bpe_pair_counts(load_table(spark, sf_dir, "documents"),
                           top_n=20)


def _bpe_pair_oracle() -> str:
    from .training_ops import bpe_pair_counts_oracle_sql

    return bpe_pair_counts_oracle_sql(20)


QUERIES_LATE["bpe_pair_top_counts"] = (bpe_pair_top_counts,
                                       _bpe_pair_oracle())


# ---------------------------------------------------------------------------
# incremental-crawl dedup against the persisted AB corpus index +
# per-source capping — two standing production flows.
# ---------------------------------------------------------------------------

def dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odd-id documents (the 'new crawl') deduped against the persisted
    even-id corpus index at the README join's banding plan."""
    from ..streaming.documents import ensure_ab_index
    from .similarity_join import dedup_new_against_index

    index = ensure_ab_index(spark, sf_dir)
    new = (load_table(spark, sf_dir, "documents")
           .where(F.col("doc_id") % 2 == 1))
    kept = dedup_new_against_index(
        spark, index, new, "text", id_col="doc_id", threshold=0.7)
    return kept.select("doc_id", "lang", "source")


def _dedup_against_corpus_oracle() -> str:
    from ..operators.lsh_queries import _JOIN_AB_PLAN
    from ..oracles.duckdb_lsh import _verified_pairs_ctes

    return f"""
WITH {_verified_pairs_ctes(3, _JOIN_AB_PLAN.band_count,
                           _JOIN_AB_PLAN.band_size, 123, 0.7)},
matched AS (
  SELECT CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END AS pid
  FROM ver WHERE (id_a % 2) != (id_b % 2)
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT pid FROM matched)
"""


QUERIES_LATE["dedup_against_corpus"] = (dedup_against_corpus,
                                        _dedup_against_corpus_oracle())


def source_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training_ops import cap_per_source

    return cap_per_source(load_table(spark, sf_dir, "documents"), cap=20)


def _cap_per_source_oracle() -> str:
    from .training_ops import cap_per_source_oracle_sql

    return cap_per_source_oracle_sql(20)


QUERIES_LATE["source_capped_docs"] = (source_capped_docs,
                                      _cap_per_source_oracle())


# ---------------------------------------------------------------------------
# deterministic up-sampling plan (training_ops.mixture_repeat_df) — the
# weights-above-1 companion to mixture_sample_counts; gate weights span
# 0, fractional, exactly-1, and >1 regimes.
# ---------------------------------------------------------------------------

_REPEAT_WEIGHTS = {f"src{i}": (i % 8) * 0.5 for i in range(20)}


def mixture_repeat_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training_ops import mixture_repeat_df

    rep = mixture_repeat_df(load_table(spark, sf_dir, "documents"),
                            _REPEAT_WEIGHTS)
    return rep.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_copies").cast("long").alias("total_copies"),
        F.max("n_copies").cast("long").alias("max_copies"),
        F.sum(F.when(F.col("n_copies") == 0, 1).otherwise(0))
        .cast("long").alias("n_dropped"),
    )


def _mixture_repeat_oracle() -> str:
    cases_base = " ".join(
        f"WHEN '{s}' THEN {int(w)}"
        for s, w in sorted(_REPEAT_WEIGHTS.items()))
    cases_lim = " ".join(
        f"WHEN '{s}' THEN {int(round((w - int(w)) * 10_000))}"
        for s, w in sorted(_REPEAT_WEIGHTS.items()))
    return f"""
WITH b AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(doc_id::VARCHAR || ':mix-v1'), 1, 8)
              )::BIGINT % 10000 AS BIGINT) AS bucket,
         CASE source {cases_base} ELSE 0 END AS base,
         CASE source {cases_lim} ELSE 0 END AS lim
  FROM documents
),
c AS (
  SELECT source,
         (base + CASE WHEN bucket < lim THEN 1 ELSE 0 END)::BIGINT
           AS n_copies
  FROM b
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(n_copies)::BIGINT AS total_copies,
       max(n_copies)::BIGINT AS max_copies,
       sum(CASE WHEN n_copies = 0 THEN 1 ELSE 0 END)::BIGINT AS n_dropped
FROM c GROUP BY source
"""


QUERIES_LATE["mixture_repeat_counts"] = (mixture_repeat_counts,
                                         _mixture_repeat_oracle())


# ---------------------------------------------------------------------------
# boolean retrieval (retrieval.boolean_search_indexed) — conjunctive
# MUST / MUST-NOT queries over the persisted postings; the oracle
# re-derives matches from the raw corpus, pinning index content too.
# ---------------------------------------------------------------------------

_BOOL_QUERIES = [
    (0, "sort merge", "error"),
    (1, "table scan", "window group"),
    (2, "hash join spark", ""),
]


def boolean_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .retrieval import boolean_search_indexed, ensure_text_index

    index = ensure_text_index(spark, sf_dir)
    musts = F.array(*[F.lit(m) for _q, m, _n in _BOOL_QUERIES])
    nots = F.array(*[F.lit(n) for _q, _m, n in _BOOL_QUERIES])
    queries = spark.range(len(_BOOL_QUERIES)).select(
        F.col("id").alias("query_id"),
        F.element_at(musts, (F.col("id") + 1).cast("int"))
        .alias("must_terms"),
        F.element_at(nots, (F.col("id") + 1).cast("int"))
        .alias("not_terms"))
    return boolean_search_indexed(spark, index, queries)


def _boolean_oracle() -> str:
    from .retrieval import boolean_search_oracle_sql

    vals = ", ".join(f"({q}, '{m}', '{n}')" for q, m, n in _BOOL_QUERIES)
    return boolean_search_oracle_sql(vals)


QUERIES_LATE["boolean_search_docs"] = (boolean_search_docs,
                                       _boolean_oracle())


# ---------------------------------------------------------------------------
# cross-source near-dup matrix (round 11)
# ---------------------------------------------------------------------------

def cross_source_near_dup_matrix(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Per-(source, source) verified near-duplicate contamination
    matrix — the corpus-curation view of the pair miner: how much of
    each source pair's cross product is near-duplicated (within-source
    cells use the unordered-pair denominator n·(n−1)/2).  The standing
    use at 100 TB: quantify cross-crawl duplication BEFORE choosing
    mixture weights, since up-weighting a source that is largely a
    near-dup of another double-counts its tokens.

    Scale shape: rides the audited banded-minhash pair miner (ids-only
    blocking, size-gated broadcast verify — the flagship's exact
    banding, so the pair set is the flagship's); sources attach BY ID
    to the verified pairs and the matrix aggregates a pairs-sized
    frame; denominators come from a |sources|-row broadcast.  The
    dup_rate divides the two exact BIGINTs in DOUBLE with one literal
    op order, 6dp round (the repo float contract)."""
    from .lsh_queries import _PAIRS_PLAN
    from .similarity_join import lsh_self_dedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_self_dedup_pairs(
        docs, "text", id_col="doc_id",
        ngram_width=3, band_count=_PAIRS_PLAN.band_count,
        band_size=_PAIRS_PLAN.band_size, seed=123, threshold=0.6)
    a = docs.select(F.col("doc_id").alias("id_a"),
                    F.col("source").alias("__sa"))
    b = docs.select(F.col("doc_id").alias("id_b"),
                    F.col("source").alias("__sb"))
    m = (
        pairs.join(a, on="id_a").join(b, on="id_b")
        .select(F.least("__sa", "__sb").alias("source_a"),
                F.greatest("__sa", "__sb").alias("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    counts = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("__n"))
    ca = counts.select(F.col("source").alias("source_a"),
                       F.col("__n").alias("__na"))
    cb = counts.select(F.col("source").alias("source_b"),
                       F.col("__n").alias("__nb"))
    return (
        m.join(F.broadcast(ca), on="source_a")
        .join(F.broadcast(cb), on="source_b")
        .select(
            "source_a", "source_b", "n_pairs",
            F.expr("CASE WHEN source_a = source_b"
                   " THEN __na * (__na - 1) DIV 2"
                   " ELSE __na * __nb END").cast("long")
            .alias("n_possible"),
        )
        .select(
            "source_a", "source_b", "n_pairs", "n_possible",
            F.round(F.col("n_pairs").cast("double")
                    / F.col("n_possible").cast("double"), 6)
            .alias("dup_rate"),
        )
    )


def _cross_source_matrix_oracle() -> str:
    from ..oracles.duckdb_lsh import _verified_pairs_ctes
    from .lsh_queries import _PAIRS_PLAN

    return f"""
WITH {_verified_pairs_ctes(3, _PAIRS_PLAN.band_count,
                           _PAIRS_PLAN.band_size, 123, 0.6)},
lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM ver
  JOIN documents da ON ver.id_a = da.doc_id
  JOIN documents db ON ver.id_b = db.doc_id
),
m AS (
  SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
  FROM lab GROUP BY 1, 2
),
c AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY 1)
SELECT m.source_a, m.source_b, m.n_pairs,
       (CASE WHEN m.source_a = m.source_b
             THEN ca.n * (ca.n - 1) // 2
             ELSE ca.n * cb.n END)::BIGINT AS n_possible,
       round(m.n_pairs::DOUBLE
             / (CASE WHEN m.source_a = m.source_b
                     THEN ca.n * (ca.n - 1) // 2
                     ELSE ca.n * cb.n END)::DOUBLE, 6) AS dup_rate
FROM m
JOIN c ca ON ca.source = m.source_a
JOIN c cb ON cb.source = m.source_b
"""


QUERIES_LATE["cross_source_near_dup_matrix"] = (
    cross_source_near_dup_matrix, _cross_source_matrix_oracle())


def bpe_train_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: the first 4 BPE training merges over the documents corpus
    (see :func:`lsh_spark.operators.training_ops.bpe_train_merges`)."""
    from ..sources.io import fanout_scan
    from .training_ops import bpe_train_merges

    return bpe_train_merges(
        fanout_scan(load_table(spark, sf_dir, "documents")), steps=4)


def _bpe_merges_oracle() -> str:
    from .training_ops import bpe_train_merges_oracle_sql

    return bpe_train_merges_oracle_sql(4)


QUERIES_LATE["bpe_train_merge_table"] = (bpe_train_merge_table,
                                         _bpe_merges_oracle())


def events_user_item_components(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Gate: connected components of the user↔item graph (the
    community/account-linking view of the events stream), via the
    shared min-label CC core."""
    from .graph import user_item_components

    return user_item_components(load_table(spark, sf_dir, "events"))


def _user_item_components_oracle() -> str:
    from .graph import user_item_components_oracle_sql

    return user_item_components_oracle_sql()


QUERIES_LATE["events_user_item_components"] = (
    events_user_item_components, _user_item_components_oracle())


def _boolean_search_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.documents import boolean_search_streaming

    return boolean_search_streaming(spark, sf_dir)


QUERIES_LATE["boolean_search_streaming"] = (_boolean_search_streaming,
                                            _boolean_oracle())


def leakfree_dataset_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-FREE train/val/test assignment: hash the near-dup
    COMPONENT label instead of the document id, so every member of a
    near-duplicate cluster lands in the same split — the step that
    makes `split_leakage_stats` read zero.  Composition of the two
    audited pieces: the pair-free CC cluster operator (gate banding)
    labels components, and the splits md5-bucket machinery projects the
    split onto the cluster label in-plan (no joins beyond the cluster
    iteration's own).

    100 TB shape: inherits the CC core's contract (singleton-bucket
    prune, long-keyed label joins, checkpointed lineage); the split
    itself is a zero-shuffle per-row map over the (doc, cluster)
    frame — read from the shared ``ensure_cluster_labels`` table."""
    from .training_ops import split_expr

    clusters = spark.table(ensure_cluster_labels(spark, sf_dir))
    return clusters.select(
        "doc_id", "cluster_id",
        split_expr(F.col("cluster_id")).alias("split"))


def _leakfree_splits_oracle() -> str:
    # the CC oracle (true components via recursive reachability) as a
    # subquery, with the dataset_splits md5-bucket CASE replayed on the
    # cluster label — both pieces verbatim from their own gate oracles
    return f"""
SELECT doc_id, cluster_id,
       CASE WHEN CAST(('0x' || substr(md5(cluster_id::VARCHAR
                                          || ':split-v1'), 1, 8)
                      )::BIGINT % 10000 AS BIGINT) < 500 THEN 'test'
            WHEN CAST(('0x' || substr(md5(cluster_id::VARCHAR
                                          || ':split-v1'), 1, 8)
                      )::BIGINT % 10000 AS BIGINT) < 1000 THEN 'val'
            ELSE 'train' END AS split
FROM ({_orc.dedup_clusters_sql(3, 6, 6, 123)}) c
"""


QUERIES_LATE["leakfree_dataset_splits"] = (leakfree_dataset_splits,
                                           _leakfree_splits_oracle())


# ---------------------------------------------------------------------------
# HyperLogLog distinct estimation (round 11) — the third sketch-family
# member: KMV does distinct-per-doc, CMS does frequency, HLL does the
# bounded-memory per-GROUP distinct a 100 TB vocab census needs.
# ---------------------------------------------------------------------------

_HLL_P = 8                      # 2^8 = 256 registers per group
_HLL_M = 1 << _HLL_P
# raw-estimate scale alpha_m * m^2 * 2^57, rendered via Python repr so
# both engines parse the identical double (the only float op in the
# whole query is ONE division by the integer-exact register sum)
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_HLL_SCALE = _HLL_ALPHA * float(_HLL_M * _HLL_M) * float(1 << 57)


def hll_vocab_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HyperLogLog distinct-bigram estimate next to the exact
    count: md5-derived 64-bit hash splits into an 8-bit register index
    and a 56-bit tail whose leading-zero count (+1) is the register
    update; registers are ``max`` aggregates, so the sketch is fully
    mergeable and order-independent — the property that lets 1000
    executors build per-partition registers and combine them without a
    second scan (map-side partial max does exactly that here).

    Exactness contract: everything up to the final division is INTEGER
    (rho via ``57 - length(bin(v))``; the harmonic denominator
    sum(2^-rho) is carried as the exact integer S = sum(2^(57-rho)) in
    DECIMAL/HUGEINT, absent registers contributing 2^57 each); the raw
    HLL estimate alpha*m^2/sum(2^-rho) = SCALE/S is then ONE double
    division of exactly-representable operands, bit-identical across
    engines, rounded 6dp in-plan.  Bias correction (linear counting /
    large-range) is a caller-side concern — it needs ``ln``, which is
    not bit-stable cross-engine.

    Returns (source, n_registers, sum_rho, exact_distinct,
    est_distinct); ``exact_distinct`` is gate-side evidence (the thing
    HLL avoids computing at 100 TB), derived in the SAME aggregate via
    per-register count-distinct summed across the register partition."""
    from .training_ops import _words, exploded_word_bigrams

    docs = load_table(spark, sf_dir, "documents")
    bg = exploded_word_bigrams(
        docs.select("source", _words(F.col("text")).alias("__t")),
        F.col("__t"), keep=("source",)
    ).select("source", "__g", F.md5("__g").alias("__hx"))
    reg = bg.select(
        "source", "__g",
        F.conv(F.substring("__hx", 1, 2), 16, 10).cast("int")
        .alias("__idx"),
        F.conv(F.substring("__hx", 3, 14), 16, 10).cast("bigint")
        .alias("__v"),
    ).select(
        "source", "__g", "__idx",
        F.when(F.col("__v") == 0, F.lit(57))
        .otherwise(F.lit(57) - F.length(F.bin(F.col("__v"))))
        .cast("int").alias("__rho"),
    )
    regs = reg.groupBy("source", "__idx").agg(
        F.max("__rho").alias("__m"),
        F.countDistinct("__g").alias("__nd"),
    )
    per = regs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum("__m").cast("bigint").alias("sum_rho"),
        F.sum("__nd").cast("bigint").alias("exact_distinct"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 57 - __m)")
              .cast("decimal(30,0)")).alias("__s_present"),
    )
    s_total = (
        F.col("__s_present")
        + (F.lit(_HLL_M) - F.col("n_registers"))
        * F.lit(1 << 57).cast("decimal(30,0)")
    )
    return per.select(
        "source", "n_registers", "sum_rho", "exact_distinct",
        F.round(F.lit(_HLL_SCALE) / s_total.cast("double"), 6)
        .alias("est_distinct"),
    )


HLL_VOCAB_ORACLE = rf"""
WITH tok AS (
  SELECT source,
         list_filter(string_split_regex(text, '[ \t\n\x0b\f\r]+'),
                     t -> t != '') AS ts
  FROM documents
),
bg AS (
  SELECT source, ts[i] || ' ' || ts[i + 1] AS g
  FROM (SELECT source, ts,
               unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
        FROM tok)
),
h AS (
  SELECT source, g, md5(g) AS hx FROM bg
),
r AS (
  SELECT source, g,
         ('0x' || substr(hx, 1, 2))::INT AS idx,
         ('0x' || substr(hx, 3, 14))::UBIGINT AS v
  FROM h
),
rho AS (
  SELECT source, g, idx,
         CASE WHEN v = 0 THEN 57
              ELSE 57 - length(bin(v)) END AS rho
  FROM r
),
reg AS (
  SELECT source, idx, max(rho) AS m, count(DISTINCT g) AS nd
  FROM rho GROUP BY source, idx
),
agg AS (
  SELECT source,
         count(*)::BIGINT AS n_registers,
         sum(m)::BIGINT AS sum_rho,
         sum(nd)::BIGINT AS exact_distinct,
         sum((1::HUGEINT << (57 - m))) AS s_present
  FROM reg GROUP BY source
)
SELECT source, n_registers, sum_rho, exact_distinct,
       round({_HLL_SCALE!r} / CAST(
         s_present + ({_HLL_M} - n_registers) * (1::HUGEINT << 57)
         AS DOUBLE), 6) AS est_distinct
FROM agg
"""


QUERIES_LATE["hll_vocab_report"] = (hll_vocab_report, HLL_VOCAB_ORACLE)


# ---------------------------------------------------------------------------
# per-source token-budget selection gate (training_ops.token_budget_per_source)
# — budget 600 keeps roughly half of each sf0.01 source (25 docs x ~50
# tokens), so the gate exercises both the kept and the cut regimes.
# ---------------------------------------------------------------------------

def token_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training_ops import token_budget_per_source

    return token_budget_per_source(
        load_table(spark, sf_dir, "documents"), budget=600)


def _token_budget_oracle() -> str:
    from .training_ops import token_budget_oracle_sql

    return token_budget_oracle_sql(600)


QUERIES_LATE["token_budget_docs"] = (token_budget_docs,
                                     _token_budget_oracle())


# ---------------------------------------------------------------------------
# content-defined chunk dedup gate (dedup.cdc_chunk_stats)
# ---------------------------------------------------------------------------

def cdc_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import cdc_chunk_stats

    return cdc_chunk_stats(load_table(spark, sf_dir, "documents"))


def _cdc_oracle() -> str:
    from .dedup import cdc_chunk_stats_oracle_sql

    return cdc_chunk_stats_oracle_sql()


QUERIES_LATE["cdc_chunk_dedup_stats"] = (cdc_chunk_dedup_stats,
                                         _cdc_oracle())


# ---------------------------------------------------------------------------
# per-source KL divergence vs the corpus unigram distribution (round 11)
# — the domain-shift diagnostic a mixture builder reads next to
# cross_source_near_dup_matrix: which sources are lexical outliers.
# ---------------------------------------------------------------------------

def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(P_source || P_corpus) over unigram distributions, per source:
    ``sum_w p_s(w) * ln(p_s(w) / p(w))`` with integer counts everywhere
    and the zipf_fit_stats float contract — each word's term is ONE
    literal double op order ``(c_s/n_s) * ln((c_s/n_s) / (c/N))``,
    6dp-quantized, then DECIMAL(28,6)-summed so shuffle order can't
    perturb the total.  Words absent from a source contribute exactly 0
    (p_s = 0) and never materialize a row.

    Scale shape: corpus word counts, per-source totals, and the grand
    total are all RE-AGGREGATIONS of the one (source, word) count frame
    — never of raw text — so every branch is a columnar scan + a
    map-side-combining aggregate (the explode is re-planned per branch
    at gate scale; a standing deployment persists the count frame once
    and all branches read it).  The only vocab-sized shuffle is the
    word-keyed join of source counts to corpus counts; totals ride in
    broadcast (|sources|-row and 1-row) joins — never a global window,
    which would single-task the vocab."""
    from .training_ops import _words

    docs = load_table(spark, sf_dir, "documents")
    sw = (
        docs.select("source",
                    F.explode(_words(F.col("text"))).alias("__w"))
        .groupBy("source", "__w")
        .agg(F.count(F.lit(1)).alias("__cs"))
    )
    corpus = sw.groupBy("__w").agg(F.sum("__cs").alias("__c"))
    totals = sw.groupBy("source").agg(
        F.sum("__cs").alias("__ns"),
        F.count(F.lit(1)).alias("n_types"))
    big_n = sw.agg(F.sum("__cs").alias("__N"))
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


SOURCE_KL_ORACLE = r"""
WITH sw AS (
  SELECT source, w, count(*)::BIGINT AS cs
  FROM (SELECT source,
               unnest(list_filter(string_split_regex(text,
                      '[ \t\n\x0b\f\r]+'), t -> t != '')) AS w
        FROM documents)
  GROUP BY source, w
),
corpus AS (
  SELECT w, sum(cs)::BIGINT AS c FROM sw GROUP BY w
),
totals AS (
  SELECT source, sum(cs)::BIGINT AS ns, count(*)::BIGINT AS n_types
  FROM sw GROUP BY source
),
big_n AS (SELECT sum(cs)::BIGINT AS n FROM sw)
SELECT s.source, t.ns AS n_tokens, t.n_types,
       CAST(sum(CAST(round(
         (s.cs::DOUBLE / t.ns::DOUBLE)
         * ln((s.cs::DOUBLE / t.ns::DOUBLE)
              / (c.c::DOUBLE / b.n::DOUBLE)), 6)
         AS DECIMAL(28,6))) AS DOUBLE) AS kl_vs_corpus
FROM sw s
JOIN corpus c USING (w)
JOIN totals t USING (source)
CROSS JOIN big_n b
GROUP BY s.source, t.ns, t.n_types
"""

QUERIES_LATE["source_kl_divergence"] = (source_kl_divergence,
                                        SOURCE_KL_ORACLE)


# ---------------------------------------------------------------------------
# persisted CDC chunk index gates (dedup.build_cdc_chunk_index family):
# batch probe, streaming probe, index stats — even-id docs are the
# indexed corpus, odd-id docs the incoming crawl (the dedup_against_corpus
# split).  All three share one session-amortized index build.
# ---------------------------------------------------------------------------

def chunk_novelty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.documents import ensure_cdc_index
    from .dedup import chunk_novelty_against_index

    index = ensure_cdc_index(spark, sf_dir)
    new = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 2 == 1)
    return chunk_novelty_against_index(spark, index, new)


def _chunk_novelty_oracle() -> str:
    from .dedup import _cdc_ch_ctes

    corpus = "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) c"
    batch = "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1) b"
    return f"""
WITH {_cdc_ch_ctes('_c', corpus)},
{_cdc_ch_ctes('_b', batch)},
cd_c AS (SELECT DISTINCT ch FROM ch_c),
cd_b AS (SELECT DISTINCT doc_id, ch FROM ch_b),
tot AS (
  SELECT doc_id, count(*)::BIGINT AS n_unique_chunks
  FROM cd_b GROUP BY doc_id
),
kn AS (
  SELECT doc_id, count(*)::BIGINT AS n_known
  FROM cd_b WHERE ch IN (SELECT ch FROM cd_c)
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_unique_chunks,
       coalesce(k.n_known, 0)::BIGINT AS n_known_chunks,
       round(coalesce(k.n_known, 0)::DOUBLE
             / t.n_unique_chunks::DOUBLE, 6) AS known_frac
FROM tot t LEFT JOIN kn k USING (doc_id)
"""


QUERIES_LATE["chunk_novelty_docs"] = (chunk_novelty_docs,
                                      _chunk_novelty_oracle())


def cdc_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.documents import ensure_cdc_index
    from .dedup import cdc_index_stats_df

    index = ensure_cdc_index(spark, sf_dir)
    return cdc_index_stats_df(spark, index)


def _cdc_index_stats_oracle() -> str:
    from .dedup import _cdc_ch_ctes

    corpus = "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) c"
    return f"""
WITH {_cdc_ch_ctes('_c', corpus)},
cd AS (SELECT DISTINCT doc_id, ch FROM ch_c),
per AS (SELECT ch, count(*)::BIGINT AS nd FROM cd GROUP BY ch)
SELECT sum(nd)::BIGINT AS n_rows,
       count(*)::BIGINT AS n_chunks,
       max(nd)::BIGINT AS max_docs_per_chunk
FROM per
"""


QUERIES_LATE["cdc_index_stats"] = (cdc_index_stats,
                                   _cdc_index_stats_oracle())


def _chunk_novelty_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.documents import chunk_novelty_streaming

    return chunk_novelty_streaming(spark, sf_dir)


QUERIES_LATE["chunk_novelty_streaming"] = (_chunk_novelty_streaming,
                                           _chunk_novelty_oracle())


# ---------------------------------------------------------------------------
# BPE encode gate — the other half of the tokenizer-training loop:
# train the gate's 3 merges (identical algebra to bpe_train_merge_table
# via the shared _bpe_loop) and tokenize every document with them.
# ---------------------------------------------------------------------------

def bpe_encoded_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training_ops import bpe_encode_token_counts

    return bpe_encode_token_counts(load_table(spark, sf_dir, "documents"))


def _bpe_encode_oracle() -> str:
    from .training_ops import bpe_encode_oracle_sql

    return bpe_encode_oracle_sql()


QUERIES_LATE["bpe_encoded_token_counts"] = (bpe_encoded_token_counts,
                                            _bpe_encode_oracle())


# ---------------------------------------------------------------------------
# streaming drift monitor gate — per-source KL of the streamed half vs
# the STATIC corpus distribution (the mixture-rebalancing alarm signal)
# ---------------------------------------------------------------------------

def _source_kl_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.documents import source_kl_streaming

    return source_kl_streaming(spark, sf_dir)


SOURCE_KL_STREAMING_ORACLE = r"""
WITH sw AS (
  SELECT source, w, count(*)::BIGINT AS cs
  FROM (SELECT source,
               unnest(list_filter(string_split_regex(text,
                      '[ \t\n\x0b\f\r]+'), t -> t != '')) AS w
        FROM documents WHERE doc_id % 2 = 1)
  GROUP BY source, w
),
corpus AS (
  SELECT w, count(*)::BIGINT AS c
  FROM (SELECT unnest(list_filter(string_split_regex(text,
               '[ \t\n\x0b\f\r]+'), t -> t != '')) AS w
        FROM documents)
  GROUP BY w
),
totals AS (
  SELECT source, sum(cs)::BIGINT AS ns, count(*)::BIGINT AS n_types
  FROM sw GROUP BY source
),
big_n AS (SELECT sum(c)::BIGINT AS n FROM corpus)
SELECT s.source, t.ns AS n_tokens, t.n_types,
       CAST(sum(CAST(round(
         (s.cs::DOUBLE / t.ns::DOUBLE)
         * ln((s.cs::DOUBLE / t.ns::DOUBLE)
              / (c.c::DOUBLE / b.n::DOUBLE)), 6)
         AS DECIMAL(28,6))) AS DOUBLE) AS kl_vs_corpus
FROM sw s
JOIN corpus c USING (w)
JOIN totals t USING (source)
CROSS JOIN big_n b
GROUP BY s.source, t.ns, t.n_types
"""

QUERIES_LATE["source_kl_streaming"] = (_source_kl_streaming,
                                       SOURCE_KL_STREAMING_ORACLE)


# ---------------------------------------------------------------------------
# near-dup cluster size histogram — the dedup REPORT a dataset card
# ships: how many clusters of each size, rows reclaimable by keep-one.
# Same banding plan (and oracle CC) as dedup_clusters_minhash.
# ---------------------------------------------------------------------------

def dedup_cluster_size_histogram(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Histogram of near-dup cluster sizes over the pair-free CC
    labels: (cluster_size, n_clusters, n_docs, n_reclaimable) with
    n_reclaimable = docs a keep-one-per-cluster pass would drop.
    Composes the audited cluster operator with two tiny aggregates —
    the histogram is |distinct sizes| rows, so everything after the CC
    iteration is effectively free; sizes aggregate from labels
    (map-side combine, via the shared ``ensure_cluster_labels``
    table), never from materialized pairs."""
    clusters = spark.table(ensure_cluster_labels(spark, sf_dir))
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size", "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("bigint")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("bigint").alias("n_reclaimable"),
        )
    )


CLUSTER_HISTOGRAM_ORACLE = f"""
WITH sizes AS (
  SELECT cluster_id, count(*)::BIGINT AS cluster_size
  FROM ({_orc.dedup_clusters_sql(3, 6, 6, 123)}) c
  GROUP BY cluster_id
)
SELECT cluster_size, count(*)::BIGINT AS n_clusters,
       (cluster_size * count(*))::BIGINT AS n_docs,
       ((cluster_size - 1) * count(*))::BIGINT AS n_reclaimable
FROM sizes GROUP BY cluster_size
"""

QUERIES_LATE["dedup_cluster_size_histogram"] = (
    dedup_cluster_size_histogram, CLUSTER_HISTOGRAM_ORACLE)


# ---------------------------------------------------------------------------
# session-amortized near-dup cluster labels — four gates consume the
# SAME (band 6x6, seed 123) component labels; build them once per
# session (the ensure_* contract: params pinned in a meta row, a
# parameter change forces a rebuild, a fresh driver session builds on
# first use).
# ---------------------------------------------------------------------------

_CCLBL_PARAMS = dict(ngram_width=3, band_count=6, band_size=6, seed=123)


def ensure_cluster_labels(spark: SparkSession, sf_dir: str) -> str:
    import os

    from ..sources import index as ix

    name = f"cclbl_{os.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    want = {k: int(v) for k, v in _CCLBL_PARAMS.items()}

    def build() -> None:
        labels = lsh_dedup_clusters(
            load_table(spark, sf_dir, "documents"), "text", id_col="doc_id",
            **want)
        ix.write(labels, ix.CLUSTER_LABELS, name, "")
        ix.finish_build(spark, ix.CLUSTER_LABELS, name, **want)

    return ix.ensure(spark, ix.CLUSTER_LABELS, name, want, build)


# ---------------------------------------------------------------------------
# Bloom-filter crawl dedup (operators/bloom.py) — the cheap exact-digest
# membership gate a crawler runs BEFORE the near-dup machinery; the
# probe frame plants exact duplicates (ids shifted by +10M) so the
# no-false-negative path is exercised at every scale factor.
# ---------------------------------------------------------------------------

_BLOOM_M_BITS = 1 << 16
_BLOOM_PLANT_SHIFT = 10_000_000

_BLOOM_PROBE_SQL = f"""SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
 UNION ALL
 SELECT doc_id + {_BLOOM_PLANT_SHIFT} AS doc_id, text
 FROM documents WHERE doc_id % 10 = 0"""


def _bloom_probe_frame(docs: DataFrame) -> DataFrame:
    """Odd-id docs (the 'new crawl') plus planted exact copies of the
    %10==0 corpus docs under shifted ids — %10==0 ids are always even,
    so every planted row duplicates a CORPUS document and must come
    back ``bloom_hit AND exact_dup``."""
    return (
        docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text")
        .unionAll(
            docs.where(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + F.lit(_BLOOM_PLANT_SHIFT))
                    .alias("doc_id"), "text"))
    )


def bloom_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .bloom import bloom_dedup_report

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    return bloom_dedup_report(corpus, _bloom_probe_frame(docs),
                              m_bits=_BLOOM_M_BITS)


def _bloom_oracle() -> str:
    from .bloom import bloom_dedup_oracle_sql

    return bloom_dedup_oracle_sql(m_bits=_BLOOM_M_BITS,
                                  probe_sql=_BLOOM_PROBE_SQL)


QUERIES_LATE["bloom_dedup_docs"] = (bloom_dedup_docs, _bloom_oracle())


# ---------------------------------------------------------------------------
# triangle participation over the item co-occurrence graph
# (operators/graph.py) — the clustering-coefficient building block.
# ---------------------------------------------------------------------------

def item_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import triangle_counts

    return triangle_counts(load_table(spark, sf_dir, "events"),
                           min_cooccur=2, max_items_per_user=1000)


def _triangle_oracle() -> str:
    from .graph import triangle_counts_oracle_sql

    return triangle_counts_oracle_sql(2, 1000)


QUERIES_LATE["item_triangle_counts"] = (item_triangle_counts,
                                        _triangle_oracle())


def _bloom_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.documents import bloom_dedup_streaming

    return bloom_dedup_streaming(spark, sf_dir)


QUERIES_LATE["bloom_dedup_streaming"] = (_bloom_dedup_streaming,
                                         _bloom_oracle())


# ---------------------------------------------------------------------------
# IVF radius search (ann.ivf_radius_search) — the FAISS range_search
# shape: all probed neighbors above a similarity floor, NO per-query
# rank window (scan → broadcast probe join → filter, output-bound).
# ---------------------------------------------------------------------------

_RADIUS_T = 0.25


def ann_ivf_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ann import ivf_radius_search

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_radius_search(
        emb, emb.where(F.col("vec_id") < _N_QUERIES),
        threshold=_RADIUS_T, n_lists=_IVF_LISTS, n_probe=_IVF_PROBE,
        n_iters=_IVF_ITERS)


def _ivf_radius_oracle() -> str:
    """Same Lloyd/probe/score chain as ``_lloyd_oracle`` with the rank
    window replaced by the threshold filter (6dp round BEFORE the
    compare, >= on the rounded value — the pair-similarity contract)."""
    ctes = _lloyd_cell_ctes(_IVF_LISTS, _IVF_ITERS)
    cent = f"cent_{_IVF_ITERS}"
    ctes.append(f"""q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < {_N_QUERIES})""")
    ctes.append(f"""probes AS (
  SELECT query_id, v, cell FROM (
    SELECT query_id, v, cell,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY {_SQDIST.format(a='v', b='cv')} ASC, cell ASC) AS r
    FROM q CROSS JOIN {cent}
  ) WHERE r <= {_IVF_PROBE}
)""")
    ctes.append("""scored AS (
  SELECT p.query_id, cc.neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(p.v, p.v)) > 0
                     AND sqrt(list_dot_product(cc.v, cc.v)) > 0
               THEN list_dot_product(p.v, cc.v)
                    / (sqrt(list_dot_product(p.v, p.v))
                       * sqrt(list_dot_product(cc.v, cc.v)))
               ELSE 0.0 END, 6) AS cosine_sim
  FROM probes p JOIN c_cells cc USING (cell)
  WHERE p.query_id != cc.neighbor_id
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT query_id, neighbor_id, cosine_sim"
              f" FROM scored WHERE cosine_sim >= {_RADIUS_T!r}")


QUERIES_LATE["ann_ivf_radius_search"] = (ann_ivf_radius,
                                         _ivf_radius_oracle())


# ---------------------------------------------------------------------------
# more-like-this (retrieval.bm25_topk with corpus-drawn queries) — the
# doc→doc lexical recommender: each query document's own terms rank the
# rest of the corpus, self-match excluded.
# ---------------------------------------------------------------------------

_MLT_N_QUERIES = 8
_MLT_K = 5


def more_like_this_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") < _MLT_N_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"))
    return bm25_topk(docs, queries, k=_MLT_K, exclude_self=True)


def _mlt_oracle() -> str:
    from .retrieval import bm25_oracle_sql

    return bm25_oracle_sql(
        k=_MLT_K, exclude_self=True,
        queries_select=(f"SELECT doc_id AS query_id, text AS query_text"
                        f" FROM documents WHERE doc_id < {_MLT_N_QUERIES}"))


QUERIES_LATE["more_like_this_docs"] = (more_like_this_docs, _mlt_oracle())


# ---------------------------------------------------------------------------
# persisted Bloom index lifecycle gate — stats pin the persisted bits
# against an independent from-raw-corpus derivation (the
# boolean_search_indexed precedent).
# ---------------------------------------------------------------------------

def ensure_bloom_index(spark: SparkSession, sf_dir: str) -> str:
    """Session-amortized build of the gate's Bloom index over the
    even-id corpus (``sources/index.py::ensure``); m_bits pinned in the
    meta row — a parameter change or a partial index forces a rebuild,
    same-session reruns reuse the filter."""
    import os

    from ..sources import index as ix
    from .bloom import build_bloom_index

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    name = f"bloomidx_{tag}"

    def build() -> None:
        docs = load_table(spark, sf_dir, "documents")
        build_bloom_index(docs.where(F.col("doc_id") % 2 == 0), name,
                          m_bits=_BLOOM_M_BITS)

    return ix.ensure(spark, ix.BLOOM, name,
                     dict(m_bits=int(_BLOOM_M_BITS), text_col="text"),
                     build)


def bloom_index_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .bloom import bloom_index_stats

    return bloom_index_stats(spark, ensure_bloom_index(spark, sf_dir))


def _bloom_stats_oracle() -> str:
    from .bloom import bloom_index_stats_oracle_sql

    return bloom_index_stats_oracle_sql(m_bits=_BLOOM_M_BITS)


QUERIES_LATE["bloom_index_stats"] = (bloom_index_stats_docs,
                                     _bloom_stats_oracle())


def _events_spikes_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import events_spikes_streaming

    return events_spikes_streaming(spark, sf_dir)


def _spikes_oracle() -> str:
    from ..operators.relational import EVENTS_SPIKES_ORACLE

    return EVENTS_SPIKES_ORACLE


QUERIES_LATE["events_spikes_streaming"] = (_events_spikes_streaming,
                                           _spikes_oracle())


# ---------------------------------------------------------------------------
# SQ8 reconstruction-error report (ann.sq8_reconstruction_report) —
# the compression-quality measurement behind the int8 ANN family.
# ---------------------------------------------------------------------------

def sq8_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import fanout_scan
    from .ann import sq8_reconstruction_report

    # single-file embeddings arrive as one task; the 64-wide quant
    # chain is CPU-heavy, so fan the scan out first (no-op on a real
    # multi-split layout)
    return sq8_reconstruction_report(
        fanout_scan(load_table(spark, sf_dir, "embeddings")),
        dim=_SQ8_DIM)


SQ8_RECON_ORACLE = f"""
WITH c AS (SELECT embedding::DOUBLE[] AS cv FROM embeddings),
bounds AS (
  SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx
  FROM (SELECT i, min(cv[i]) AS mn, max(cv[i]) AS mx
        FROM c, range(1, {{dim}} + 1) t(i) GROUP BY i)
),
errs AS (
  SELECT i,
         round(abs(cv[i] -
           CASE WHEN b.mx[i] > b.mn[i]
                THEN b.mn[i]
                     + (least(greatest(
                          floor(((cv[i] - b.mn[i]) * 255)
                                / (b.mx[i] - b.mn[i]) + 0.5), 0), 255)
                        * (b.mx[i] - b.mn[i])) / 255
                ELSE b.mn[i] END), 6) AS e
  FROM c, bounds b, range(1, {{dim}} + 1) t(i)
)
SELECT (i - 1)::INT AS dim_idx,
       count(e)::BIGINT AS n_vectors,
       CASE WHEN count(e) > 0
            THEN round(CAST(sum(e::DECIMAL(28,6)) AS DOUBLE)
                       / CAST(count(e) AS DOUBLE), 6)
            ELSE NULL END AS mean_abs_err,
       max(e) AS max_abs_err
FROM errs GROUP BY i
""".replace("{dim}", str(_SQ8_DIM))


QUERIES_LATE["sq8_reconstruction_report"] = (sq8_reconstruction,
                                             SQ8_RECON_ORACLE)


# ---------------------------------------------------------------------------
# MinHash estimator calibration (similarity_join.minhash_estimate_for_pairs)
# — measure the sketch: classic per-seed estimate vs exact jaccard over
# the flagship's verified pairs, binned.
# ---------------------------------------------------------------------------

def minhash_estimate_calibration(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    from .lsh_queries import _PAIRS_PLAN, _near_dup_pairs_frames
    from .similarity_join import minhash_estimate_for_pairs

    pairs, sets = _near_dup_pairs_frames(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    # max_docs=None: the gate corpus is the explicit full-corpus call —
    # its oracle replays every document, so the sampling default must
    # not bind here (and at sf gate sizes it would not anyway).
    # sets=: the estimator's signature matrix derives from the miner's
    # CACHED shingle sets (bit-equal — per-seed minima over the unique
    # window-hash set equal minima over the window multiset), so the
    # corpus is shingled once per run, not twice
    est = minhash_estimate_for_pairs(
        pairs, docs, "text", id_col="doc_id", ngram_width=3,
        band_count=_PAIRS_PLAN.band_count,
        band_size=_PAIRS_PLAN.band_size, seed=123, max_docs=None,
        sets=sets)
    b = F.floor(F.col("jaccard") * F.lit(20.0)).cast("int")
    return (
        est.select(
            b.alias("jaccard_bin"),
            F.round(F.col("est_sim"), 6).cast("decimal(28,6)")
            .alias("__e"),
            F.col("jaccard").cast("decimal(28,6)").alias("__j"))
        .groupBy("jaccard_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.sum("__e").cast("double")
                    / F.count(F.lit(1)).cast("double"), 6)
            .alias("mean_est_sim"),
            F.round(F.sum("__j").cast("double")
                    / F.count(F.lit(1)).cast("double"), 6)
            .alias("mean_true_jaccard"))
    )


def _calibration_oracle() -> str:
    from .lsh_queries import _PAIRS_PLAN
    from ..oracles.duckdb_lsh import _verified_pairs_ctes

    k = _PAIRS_PLAN.band_count * _PAIRS_PLAN.band_size
    return f"""
WITH {_verified_pairs_ctes(3, _PAIRS_PLAN.band_count,
                           _PAIRS_PLAN.band_size, 123, 0.6)},
vr AS (SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM ver),
eq AS (
  SELECT v.id_a, v.id_b, v.jaccard,
         count(*) FILTER (WHERE x.m = y.m)::BIGINT AS n_eq
  FROM vr v
  JOIN allmin x ON x.id = v.id_a
  JOIN allmin y ON y.id = v.id_b AND y.seed_idx = x.seed_idx
  GROUP BY 1, 2, 3
),
est AS (
  SELECT floor(jaccard * CAST(20.0 AS DOUBLE))::INT AS jaccard_bin,
         round(n_eq::DOUBLE / {k}::DOUBLE, 6)::DECIMAL(28,6) AS e,
         jaccard::DECIMAL(28,6) AS j
  FROM eq
)
SELECT jaccard_bin,
       count(*)::BIGINT AS n_pairs,
       round(CAST(sum(e) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS mean_est_sim,
       round(CAST(sum(j) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS mean_true_jaccard
FROM est GROUP BY jaccard_bin
"""


QUERIES_LATE["minhash_estimate_calibration"] = (
    minhash_estimate_calibration, _calibration_oracle())


# ---------------------------------------------------------------------------
# round-12 additions: progressive-JPEG decode gate (closed-form pixel
# corpus), grouped-HLL distinct users, language-ID confusion matrix.
# ---------------------------------------------------------------------------

def image_progressive_decode_stats(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Pixel statistics of REAL progressive (SOF2) JPEGs synthesized
    from doc_id arithmetic (``synthesize_progressive_jpegs_from_
    documents``): the corpus is 8×8-block-constant, so the DCT
    round-trip is exact and the oracle replays every decoded pixel
    closed-form — no codec in SQL.  Pins the whole
    successive-approximation encode → multi-scan decode path
    cross-engine; ``mean_px`` is ONE double division of exact integers
    (6dp, the repo idiom)."""
    from ..multimodal.media import (decoded_image_stats,
                                    synthesize_progressive_jpegs_from_documents)
    from ..sources.io import fanout_scan

    docs = fanout_scan(load_table(spark, sf_dir, "documents"))
    st = decoded_image_stats(
        synthesize_progressive_jpegs_from_documents(docs))
    return st.select(
        F.col("media_id").alias("doc_id"),
        "width", "height", "px_min", "px_max", "px_sum", "n_px",
        F.round(F.col("px_sum").cast("double")
                / F.col("n_px").cast("double"), 6).alias("mean_px"))


PROGRESSIVE_DECODE_ORACLE = """
WITH g AS (
  SELECT doc_id, 2 + doc_id % 3 AS bw, 1 + (doc_id // 3) % 3 AS bh
  FROM documents
),
blocks AS (
  SELECT doc_id, bw, bh,
         (doc_id * 11 + 29 * ((k - 1) % bw)
          + 47 * ((k - 1) // bw)) % 256 AS v
  FROM (SELECT doc_id, bw, bh,
               unnest(generate_series(1, bw * bh)) AS k
        FROM g)
)
SELECT doc_id,
       (8 * bw)::INT AS width,
       (8 * bh)::INT AS height,
       min(v)::INT AS px_min,
       max(v)::INT AS px_max,
       (sum(v) * 192)::BIGINT AS px_sum,
       (bw * bh * 192)::BIGINT AS n_px,
       round(CAST(sum(v) * 192 AS DOUBLE)
             / CAST(bw * bh * 192 AS DOUBLE), 6) AS mean_px
FROM blocks GROUP BY doc_id, bw, bh
"""

QUERIES_LATE["image_progressive_decode_stats"] = (
    image_progressive_decode_stats, PROGRESSIVE_DECODE_ORACLE)


def hll_distinct_report(df: DataFrame, group_col: str,
                        item_col: str, *,
                        exact_evidence: bool = False) -> DataFrame:
    """Grouped HyperLogLog distinct-count report — the sketch-per-group
    production pattern (rollups keep 256 registers per group and MERGE
    by max, never recount).  Same integer-exact register contract as
    ``hll_vocab_report``: rho from ``57 - length(bin(v))``, harmonic
    denominator carried as the exact integer S = sum(2^(57-rho))
    (absent registers contribute 2^57), and the estimate is ONE double
    division of exactly-representable operands.  The gate reports the
    RAW estimate — the linear-counting small-range correction needs
    ``ln``, which is not bit-stable cross-engine, so groups far below
    ~2.5·m distinct items sit at the raw estimator's ~alpha·m floor by
    design (callers apply linear counting from n_registers client-side).

    ``exact_evidence=False`` (the default, the 100 TB shape) ships ONLY
    ``(__grp, __idx, __rho)`` ints through the shuffle — the raw item
    column never crosses an exchange and no exact-distinct aggregate
    runs.  ``exact_evidence=True`` (the gate call sites) additionally
    carries ``exact_distinct`` per group as cross-engine evidence — a
    full ``countDistinct`` over the items, the piece a production
    deployment drops by default."""
    rows = hll_rho_rows(df, group_col, item_col)
    if exact_evidence:
        regs = rows.groupBy("__grp", "__idx").agg(
            F.max("__rho").alias("__m"),
            F.countDistinct("__u").alias("__nd"),
        )
    else:
        regs = rows.select("__grp", "__idx", "__rho").groupBy(
            "__grp", "__idx").agg(F.max("__rho").alias("__m"))
    return hll_finalize(regs, group_col)


def hll_rho_rows(df: DataFrame, group_col: str,
                 item_col: str) -> DataFrame:
    """(__grp, __u, __idx, __rho) register-update rows — the
    per-element stage of the grouped HLL, shared with the streaming
    twin (whose micro-batches reduce these to mergeable per-register
    maxima before anything is persisted)."""
    h = df.select(
        F.col(group_col).alias("__grp"),
        F.col(item_col).cast("string").alias("__u")
    ).select(
        "__grp", "__u", F.md5("__u").alias("__hx"))
    return h.select(
        "__grp", "__u",
        F.conv(F.substring("__hx", 1, 2), 16, 10).cast("int")
        .alias("__idx"),
        F.conv(F.substring("__hx", 3, 14), 16, 10).cast("bigint")
        .alias("__v"),
    ).select(
        "__grp", "__u", "__idx",
        F.when(F.col("__v") == 0, F.lit(57))
        .otherwise(F.lit(57) - F.length(F.bin(F.col("__v"))))
        .cast("int").alias("__rho"),
    )


def hll_finalize(regs: DataFrame, group_col: str) -> DataFrame:
    """Register-table → report stage of the grouped HLL; ``regs`` is
    (__grp, __idx, __m[, __nd]) with one row per present register —
    ``__nd`` (the exact-evidence column) is optional: when absent the
    report omits ``exact_distinct`` (the estimate-only 100 TB shape)."""
    has_nd = "__nd" in regs.columns
    aggs = [
        F.count(F.lit(1)).alias("n_registers"),
        F.sum("__m").cast("bigint").alias("sum_rho"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 57 - __m)")
              .cast("decimal(30,0)")).alias("__s_present"),
    ]
    if has_nd:
        aggs.insert(2, F.sum("__nd").cast("bigint").alias("exact_distinct"))
    per = regs.groupBy("__grp").agg(*aggs)
    s_total = (
        F.col("__s_present")
        + (F.lit(_HLL_M) - F.col("n_registers"))
        * F.lit(1 << 57).cast("decimal(30,0)")
    )
    cols = (["n_registers", "sum_rho", "exact_distinct"] if has_nd
            else ["n_registers", "sum_rho"])
    return per.select(
        F.col("__grp").alias(group_col),
        *cols,
        F.round(F.lit(_HLL_SCALE) / s_total.cast("double"), 6)
        .alias("est_distinct"),
    )


def hll_users_per_event_type(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Per-event-type HLL distinct-user report (see
    :func:`hll_distinct_report` for the integer-exact contract and the
    deliberate raw-estimate small-range behavior).  The gate passes
    ``exact_evidence=True`` — the cross-engine evidence column the
    operator's production default omits."""
    return hll_distinct_report(
        load_table(spark, sf_dir, "events"), "event_type", "user_id",
        exact_evidence=True)


HLL_USERS_ORACLE = rf"""
WITH h AS (
  SELECT event_type, user_id::VARCHAR AS u,
         md5(user_id::VARCHAR) AS hx
  FROM events
),
r AS (
  SELECT event_type, u,
         ('0x' || substr(hx, 1, 2))::INT AS idx,
         ('0x' || substr(hx, 3, 14))::UBIGINT AS v
  FROM h
),
rho AS (
  SELECT event_type, u, idx,
         CASE WHEN v = 0 THEN 57
              ELSE 57 - length(bin(v)) END AS rho
  FROM r
),
reg AS (
  SELECT event_type, idx, max(rho) AS m, count(DISTINCT u) AS nd
  FROM rho GROUP BY event_type, idx
),
agg AS (
  SELECT event_type,
         count(*)::BIGINT AS n_registers,
         sum(m)::BIGINT AS sum_rho,
         sum(nd)::BIGINT AS exact_distinct,
         sum((1::HUGEINT << (57 - m))) AS s_present
  FROM reg GROUP BY event_type
)
SELECT event_type, n_registers, sum_rho, exact_distinct,
       round({_HLL_SCALE!r} / CAST(
         s_present + ({_HLL_M} - n_registers) * (1::HUGEINT << 57)
         AS DOUBLE), 6) AS est_distinct
FROM agg
"""

QUERIES_LATE["hll_users_per_event_type"] = (hll_users_per_event_type,
                                            HLL_USERS_ORACLE)


def langid_confusion_matrix(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Model-quality rollup of the n-gram language identifier: counts
    per (true lang, predicted lang) cell plus the summed integer score
    — the confusion matrix a data pipeline reports before trusting
    langid-based filtering.  Reuses the exact ``char_ngram_lang_id``
    plan (same params as the ``lang_id_predictions`` gate); NULL
    predictions (docs matching no profile n-gram) form their own row,
    identically grouped by both engines."""
    from .langid import char_ngram_lang_id

    docs = load_table(spark, sf_dir, "documents")
    pred = char_ngram_lang_id(
        docs, ngram_width=_LANGID_N, profile_size=_LANGID_PROFILE)
    return (
        pred.groupBy(
            F.col("lang").alias("true_lang"), "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("score").cast("long").alias("total_score"))
    )


LANGID_CONFUSION_ORACLE = f"""
WITH base AS ({LANG_ID_PREDICTIONS_ORACLE})
SELECT lang AS true_lang, predicted_lang,
       count(*)::BIGINT AS n_docs,
       sum(score)::BIGINT AS total_score
FROM base GROUP BY 1, 2
"""

QUERIES_LATE["langid_confusion_matrix"] = (langid_confusion_matrix,
                                           LANGID_CONFUSION_ORACLE)


def _hll_users_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    # late-registered here (the QUERIES_LATE contract): earlier registry
    # positions stay stable
    from ..streaming.events import hll_users_streaming

    return hll_users_streaming(spark, sf_dir)


QUERIES_LATE["hll_users_streaming"] = (_hll_users_streaming,
                                       HLL_USERS_ORACLE)


# two-term proximity retrieval (retrieval.proximity_search): the NEAR
# operator — order-free gapped co-occurrence within a token window;
# integer positions/gaps end-to-end, so the oracle is exact by
# construction.  The indexed twin probes the session-shared positional
# text index (ensure_text_index — same index as BM25/phrase/boolean).
_PROX_TERMS = [(0, "sort", "join"), (1, "hash", "scan"),
               (2, "merge", "table")]
_PROX_WINDOW = 6


def _prox_queries(spark: SparkSession) -> DataFrame:
    # literal projection, not createDataFrame (Python-local relations
    # cost seconds per materialization on this host — see CLAUDE.md)
    ta = F.array(*[F.lit(a) for _q, a, _b in _PROX_TERMS])
    tb = F.array(*[F.lit(b) for _q, _a, b in _PROX_TERMS])
    return spark.range(len(_PROX_TERMS)).select(
        F.col("id").alias("query_id"),
        F.element_at(ta, (F.col("id") + 1).cast("int")).alias("term_a"),
        F.element_at(tb, (F.col("id") + 1).cast("int")).alias("term_b"))


def proximity_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .retrieval import proximity_search

    docs = load_table(spark, sf_dir, "documents")
    return proximity_search(docs, _prox_queries(spark),
                            window=_PROX_WINDOW)


def _prox_oracle() -> str:
    from .retrieval import proximity_search_oracle_sql

    vals = ", ".join(f"({i}, '{a}', '{b}')" for i, a, b in _PROX_TERMS)
    return proximity_search_oracle_sql(vals, window=_PROX_WINDOW)


QUERIES_LATE["proximity_search_docs"] = (proximity_search_docs,
                                         _prox_oracle())


def proximity_search_indexed_docs(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    from .retrieval import ensure_text_index, proximity_search_indexed

    index = ensure_text_index(spark, sf_dir)
    return proximity_search_indexed(spark, index, _prox_queries(spark),
                                    window=_PROX_WINDOW)


QUERIES_LATE["proximity_search_indexed_docs"] = (
    proximity_search_indexed_docs, _prox_oracle())


# proximity-weighted BM25 ranking (r12 verdict item 8): k-term queries
# (3+ terms), min-gap pair term fused into the BM25 score, riding the
# SAME session-amortized positional ensure_text_index as the BM25 /
# phrase / boolean / proximity gate family.  The oracle re-derives both
# the lexical fold and the pair stage from the RAW corpus, so it also
# independently pins persisted index content (the boolean_search_indexed
# contract).
_PROXRANK_QUERIES = [(0, "sort merge join"), (1, "hash join filter scan"),
                     (2, "window agg group order"),
                     (3, "fast vector query")]
_PROXRANK_WINDOW = 6
_PROXRANK_K = 15


def proximity_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .retrieval import ensure_text_index, proximity_rank_indexed

    index = ensure_text_index(spark, sf_dir)
    qt = F.array(*[F.lit(t) for _i, t in _PROXRANK_QUERIES])
    queries = spark.range(len(_PROXRANK_QUERIES)).select(
        F.col("id").alias("query_id"),
        F.element_at(qt, (F.col("id") + 1).cast("int"))
        .alias("query_text"))
    return proximity_rank_indexed(spark, index, queries,
                                  window=_PROXRANK_WINDOW, k=_PROXRANK_K)


def _proxrank_oracle() -> str:
    from .retrieval import proximity_rank_oracle_sql

    vals = ", ".join(f"({i}, '{t}')" for i, t in _PROXRANK_QUERIES)
    return proximity_rank_oracle_sql(vals, window=_PROXRANK_WINDOW,
                                     k=_PROXRANK_K)


QUERIES_LATE["proximity_rank_docs"] = (proximity_rank_docs,
                                       _proxrank_oracle())


# three-channel hybrid retrieval (r13 verdict stretch): the RRF fusion
# of hybrid_search_rrf extended with a PROXIMITY channel ranked by
# proximity_rank — lexical + vector + position-aware evidence in one
# literal lexical→vector→proximity double sum.  The oracle stacks the
# three audited channel oracles (bm25_oracle_sql, the exact-cosine
# replay, proximity_rank_oracle_sql) under the 3-way full-outer fusion.
_HPX_CH_K = 15
_HPX_K = 10


def _hpx_queries(spark: SparkSession) -> DataFrame:
    qt = F.array(*[F.lit(t) for _i, t in _PROXRANK_QUERIES])
    return spark.range(len(_PROXRANK_QUERIES)).select(
        F.col("id").alias("query_id"),
        F.element_at(qt, (F.col("id") + 1).cast("int"))
        .alias("query_text"))


def hybrid_prox_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .retrieval import ensure_text_index, hybrid_prox_search_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    qvecs = emb.where(F.col("vec_id") < len(_PROXRANK_QUERIES))
    index = ensure_text_index(spark, sf_dir)
    return hybrid_prox_search_indexed(
        spark, index, emb, _hpx_queries(spark), qvecs,
        window=_PROXRANK_WINDOW, k=_HPX_K, channel_k=_HPX_CH_K,
        rrf_c=_RRF_C)


def _hybrid_prox_oracle() -> str:
    from .retrieval import bm25_oracle_sql, proximity_rank_oracle_sql

    vals = ", ".join(f"({i}, '{t}')" for i, t in _PROXRANK_QUERIES)
    nq = len(_PROXRANK_QUERIES)
    lex = bm25_oracle_sql(vals, k=_HPX_CH_K)
    vec = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {nq}),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round(CASE WHEN sqrt(list_dot_product(qv, qv)) > 0
                     AND sqrt(list_dot_product(cv, cv)) > 0
               THEN list_dot_product(qv, cv)
                    / (sqrt(list_dot_product(qv, qv))
                       * sqrt(list_dot_product(cv, cv)))
               ELSE 0.0 END, 6) AS cosine_sim
  FROM q CROSS JOIN c
  WHERE query_id != neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, neighbor_id ASC
                           ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= {_HPX_CH_K}"""
    prox = proximity_rank_oracle_sql(vals, window=_PROXRANK_WINDOW,
                                     k=_HPX_CH_K)
    return f"""
WITH lex AS ({lex}),
vec AS ({vec}),
prox AS ({prox}),
f1 AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.doc_id, v.neighbor_id) AS doc_id,
         l.rank AS rl, v.rank AS rv
  FROM lex l
  FULL OUTER JOIN vec v
    ON l.query_id = v.query_id AND l.doc_id = v.neighbor_id
),
fused AS (
  SELECT coalesce(f1.query_id, p.query_id) AS query_id,
         coalesce(f1.doc_id, p.doc_id) AS doc_id,
         round(coalesce(1.0 / ({_RRF_C} + f1.rl), 0.0)
               + coalesce(1.0 / ({_RRF_C} + f1.rv), 0.0)
               + coalesce(1.0 / ({_RRF_C} + p.rank), 0.0), 6) AS rrf_score
  FROM f1
  FULL OUTER JOIN prox p
    ON f1.query_id = p.query_id AND f1.doc_id = p.doc_id
),
rk AS (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, rrf_score, rank FROM rk WHERE rank <= {_HPX_K}
"""


QUERIES_LATE["hybrid_prox_search_rrf"] = (hybrid_prox_search_rrf,
                                          _hybrid_prox_oracle())


# personalized PageRank (graph.personalized_pagerank): restart mass on
# a seed ITEM set — the similar-to-these neighborhood-expansion
# primitive; unrolled-CTE oracle, same float contract as events_pagerank.
_PPR_ITERS = 3


def item_ppr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import personalized_pagerank, user_item_edges

    ev = load_table(spark, sf_dir, "events")
    edges = user_item_edges(ev)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    seeds = nodes.where((F.col("node") % 2 == 1)
                        & (F.expr("node DIV 2") % 17 == 0))
    pr = personalized_pagerank(edges, seeds, iters=_PPR_ITERS)
    return pr.select(
        F.when(F.col("node") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("item")).alias("kind"),
        F.expr("node DIV 2").alias("id"),
        "rank",
    )


def _ppr_oracle() -> str:
    from .graph import ppr_oracle_sql

    return ppr_oracle_sql(_PPR_ITERS)


QUERIES_LATE["item_ppr_scores"] = (item_ppr_scores, _ppr_oracle())


# HITS hubs/authorities (graph.hits_scores) — the third classic
# link-analysis operator; same integer micro-unit contract as
# item_ppr_scores (max-renormalized half-steps, no float in the loop).
_HITS_ITERS = 3


def item_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import hits_scores, user_item_edges

    ev = load_table(spark, sf_dir, "events")
    hs = hits_scores(user_item_edges(ev), iters=_HITS_ITERS)
    return hs.select(
        F.when(F.col("node") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("item")).alias("kind"),
        F.expr("node DIV 2").alias("id"),
        "hub", "authority",
    )


def _hits_oracle() -> str:
    from .graph import hits_oracle_sql

    return hits_oracle_sql(_HITS_ITERS)


QUERIES_LATE["item_hits_scores"] = (item_hits_scores, _hits_oracle())


# Label propagation communities (graph.lpa_communities) — community
# structure beyond connectivity; all-integer vote/argmax chain.
_LPA_ITERS = 4


def item_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import lpa_communities, user_item_edges

    ev = load_table(spark, sf_dir, "events")
    com = lpa_communities(user_item_edges(ev), iters=_LPA_ITERS)
    return com.select(
        F.when(F.col("node") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("item")).alias("kind"),
        F.expr("node DIV 2").alias("id"),
        "community",
    )


def _lpa_oracle() -> str:
    from .graph import lpa_oracle_sql

    return lpa_oracle_sql(_LPA_ITERS)


QUERIES_LATE["item_lpa_communities"] = (item_lpa_communities,
                                        _lpa_oracle())
