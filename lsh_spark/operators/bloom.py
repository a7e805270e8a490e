"""Bloom-filter membership sketch over document digests.

The standing production flow this models: a crawler holds a Bloom
filter of every document digest already ingested; each new batch is
probed against it and only maybe-new documents proceed to the
expensive near-dup machinery (``similarity_join.dedup_new_against_index``).
A Bloom filter never false-negatives, so "definitely new" is exact;
"maybe seen" is confirmed by the exact digest join — the gate query
reports BOTH flags per probe document so the false-positive behaviour
is part of the checked surface.

Cross-engine-exact arithmetic contract (the md5-bucket idiom of
``training_ops.split_bucket_expr``): the k=4 hash functions are the
four disjoint 8-hex windows of ``md5(text)`` read as unsigned 32-bit
integers, reduced mod ``m_bits``; the filter is stored as
``m_bits/32`` 64-bit words holding 32-bit payloads (bit = ``1::BIGINT
<< (pos % 32)`` — staying below bit 32 keeps the shift exact and
sign-free in BOTH engines' BIGINT).  DuckDB replays the identical
integer chain, so the words table and every probe verdict are
bit-identical.

100 TB shape: the build is one groupBy over k rows per document with
map-side partial ``bit_or`` — the result is AT MOST ``m_bits/32`` rows
regardless of corpus size, so the probe side broadcasts the filter and
touches the corpus exactly once with no shuffle on the probe frame
beyond its own per-doc aggregate.  At production scale ``m_bits``
grows with the corpus (kn/m ≈ 0.1 for a ~0.01% FP rate at k=4): 10^11
documents want m ≈ 4·10^12 bits = 125 M words ≈ 1 GB — still a
broadcastable dimension table, and the words aggregate itself is
bounded by m/32 rows whatever the input volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import index as ix

_K = 4  # md5 yields four disjoint 8-hex windows — k is fixed by design


def _positions(hex_col, m_bits: int) -> list:
    """The k bit positions of one digest: window i is hex chars
    [1+8i, 8+8i], read base-16, reduced mod m_bits."""
    return [
        (F.conv(F.substring(hex_col, 1 + 8 * i, 8), 16, 10)
         .cast("bigint") % F.lit(int(m_bits)))
        for i in range(_K)
    ]


def bloom_build_words(
    df: DataFrame,
    text_col: str = "text",
    *,
    m_bits: int = 1 << 16,
) -> DataFrame:
    """Aggregate the corpus into the Bloom words table
    ``(word_idx BIGINT, bits BIGINT)`` — at most ``m_bits/32`` rows.

    The aggregate is a plain ``bit_or`` groupBy: partial aggregation
    runs map-side, so the shuffle carries at most ``m_bits/32`` rows
    per input partition no matter how large the corpus is."""
    hx = F.md5(F.col(text_col))
    pos = F.explode(F.array(*_positions(hx, m_bits))).alias("__pos")
    return (
        df.select(pos)
        .select(
            F.expr("__pos DIV 32").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), "
                   "CAST(__pos % 32 AS INT))").alias("__bit"))
        .groupBy("word_idx")
        .agg(F.expr("bit_or(__bit)").alias("bits"))
    )


def bloom_probe(
    new_docs: DataFrame,
    words: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    m_bits: int = 1 << 16,
) -> DataFrame:
    """Probe each new document against the words table: returns
    ``(id_col, bloom_hit BOOLEAN)`` — true iff ALL k bits are set.

    The words frame broadcasts (≤ m_bits/32 rows); the probe side
    explodes to k rows per document and folds back with ``bool_and``,
    so the corpus-sized frame shuffles only on its own id."""
    hx = F.md5(F.col(text_col))
    pos = F.explode(F.array(*_positions(hx, m_bits))).alias("__pos")
    probe = new_docs.select(F.col(id_col), pos).select(
        id_col,
        F.expr("__pos DIV 32").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), "
               "CAST(__pos % 32 AS INT))").alias("__bit"))
    return (
        probe.join(F.broadcast(words), on="word_idx", how="left")
        .select(
            id_col,
            F.expr("(coalesce(bits, CAST(0 AS BIGINT)) & __bit) <> 0")
            .alias("__hit"))
        .groupBy(id_col)
        .agg(F.expr("bool_and(__hit)").alias("bloom_hit"))
    )


def bloom_dedup_report(
    corpus: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    m_bits: int = 1 << 16,
) -> DataFrame:
    """The gate flow: Bloom verdict AND exact-digest confirmation per
    probe document — ``(id_col, bloom_hit, exact_dup)``.

    ``exact_dup ⇒ bloom_hit`` by construction (no false negatives);
    rows with ``bloom_hit AND NOT exact_dup`` are the filter's false
    positives, so the FP behaviour is part of the hash-checked
    surface, not an invisible property."""
    words = bloom_build_words(corpus, text_col, m_bits=m_bits)
    seen = corpus.select(F.md5(F.col(text_col)).alias("__hx")).distinct()
    return bloom_probe_report(new_docs, words, seen, text_col,
                              id_col=id_col, m_bits=m_bits)


def bloom_probe_report(
    new_docs: DataFrame,
    words: DataFrame,
    seen_digests: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    m_bits: int = 1 << 16,
) -> DataFrame:
    """Probe side of :func:`bloom_dedup_report` against PREBUILT
    ``words`` / ``seen_digests`` frames — the streaming twin builds
    those once (localCheckpointed) and runs this per micro-batch, so
    the corpus is never re-aggregated per batch."""
    hits = bloom_probe(new_docs, words, text_col,
                       id_col=id_col, m_bits=m_bits)
    exact = (
        new_docs.select(F.col(id_col),
                        F.md5(F.col(text_col)).alias("__hx"))
        .join(seen_digests.withColumn("__seen", F.lit(True)),
              on="__hx", how="left")
        .select(id_col,
                F.coalesce(F.col("__seen"), F.lit(False))
                .alias("exact_dup"))
    )
    return hits.join(exact, on=id_col).select(
        id_col, "bloom_hit", "exact_dup")


def bloom_dedup_oracle_sql(
    *,
    m_bits: int = 1 << 16,
    corpus_pred: str = "doc_id % 2 = 0",
    probe_pred: str = "doc_id % 2 = 1",
    source: str = "documents",
    probe_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`bloom_dedup_report` over the even/odd
    split of ``source`` — identical md5-window positions, identical
    32-bit-payload word layout, identical bool_and fold.
    ``probe_sql`` (a full ``SELECT doc_id, text ...``) overrides the
    default odd-id probe frame — the gate uses it to plant exact
    duplicates so the no-false-negative path is exercised at every
    scale factor."""
    m = int(m_bits)
    probe_body = (probe_sql if probe_sql is not None else
                  f"SELECT doc_id, text FROM {source} WHERE {probe_pred}")
    cpos = "\n  UNION ALL\n".join(
        f"  SELECT ('0x' || substr(hx, {1 + 8 * i}, 8))::BIGINT"
        f" % {m} AS p FROM dc"
        for i in range(_K))
    npos = "\n  UNION ALL\n".join(
        f"  SELECT doc_id,"
        f" ('0x' || substr(hx, {1 + 8 * i}, 8))::BIGINT % {m} AS p"
        f" FROM dn"
        for i in range(_K))
    return f"""
WITH dc AS (
  SELECT md5(text) AS hx FROM {source} WHERE {corpus_pred}
),
dn AS (
  SELECT doc_id, md5(text) AS hx FROM ({probe_body})
),
cpos AS (
{cpos}
),
words AS (
  SELECT p // 32 AS word_idx,
         bit_or(1::BIGINT << (p % 32)::INT) AS bits
  FROM cpos GROUP BY 1
),
npos AS (
{npos}
),
probe AS (
  SELECT n.doc_id,
         bool_and((coalesce(w.bits, 0)
                   & (1::BIGINT << (n.p % 32)::INT)) <> 0) AS bloom_hit
  FROM npos n LEFT JOIN words w ON w.word_idx = n.p // 32
  GROUP BY 1
),
exact AS (
  SELECT doc_id,
         EXISTS (SELECT 1 FROM dc WHERE dc.hx = dn.hx) AS exact_dup
  FROM dn
)
SELECT p.doc_id AS doc_id, p.bloom_hit, e.exact_dup
FROM probe p JOIN exact e ON e.doc_id = p.doc_id
"""


# ---------------------------------------------------------------------------
# persisted Bloom index — the crawler's standing membership filter.
# Lifecycle: see sources/index.py (append-only stats deltas).  Deletes are
# structurally unsupported: a Bloom filter is an over-approximation and
# clearing a bit would false-negative other members — shrink only via
# rebuild.  Extend is the bit_or MERGE (associative), so
# build(A) ∪ extend(B) ≡ build(A ∪ B) bit-for-bit and re-inserting a
# document is a no-op on the bits.
# ---------------------------------------------------------------------------

def build_bloom_index(
    corpus: DataFrame,
    table_name: str,
    *,
    text_col: str = "text",
    m_bits: int = 1 << 16,
) -> None:
    """Persist ``<name>_words`` (word_idx, bits), ``<name>_stats``
    (append-only insert-count deltas readers SUM) and ``<name>_meta``
    (m_bits/k pinned — probes MUST hash with the meta row's m_bits,
    never a caller parameter)."""
    words = bloom_build_words(corpus, text_col, m_bits=m_bits)
    ix.write(words, ix.BLOOM, table_name, "words")
    stats = corpus.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    ix.write(stats, ix.BLOOM, table_name, "stats")
    ix.finish_build(corpus.sparkSession, ix.BLOOM, table_name,
                    m_bits=int(m_bits), k=int(_K), text_col=text_col)


def _meta_text_col(meta_row, text_col: str | None) -> str:
    """The index-defining-params contract for the hashed column: a
    caller-supplied ``text_col`` that DIFFERS from the meta-pinned one
    would mix two hash spaces in one filter, so it is an error, not an
    override."""
    if text_col is not None and text_col != meta_row.text_col:
        raise ValueError(
            f"text_col={text_col!r} differs from the index's meta-pinned "
            f"column {meta_row.text_col!r}; Bloom probes/extends must "
            "hash the column the filter was built on (rebuild to change)")
    return meta_row.text_col


def extend_bloom_index(
    new_docs: DataFrame,
    table_name: str,
    *,
    text_col: str | None = None,
) -> None:
    """Merge a new batch into the filter: union old words with the
    batch's words and re-aggregate ``bit_or`` (associative — identical
    bits to a from-scratch build over the union); append one stats
    delta row.  The words rewrite is bounded by m_bits/32 rows
    regardless of batch or corpus size.

    ``text_col`` may only RESTATE the meta-pinned column (hashing a
    different column would mix hash spaces inside one filter — the
    probes-use-meta-params contract); a differing value raises."""
    spark = new_docs.sparkSession
    m = ix.read_meta(spark, table_name)
    tc = _meta_text_col(m, text_col)
    delta = bloom_build_words(new_docs, tc, m_bits=int(m.m_bits))
    # pin the merged frame before the overwrite reads its own input
    merged = (
        spark.table(f"{table_name}_words").unionAll(delta)
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .localCheckpoint(eager=True)
    )
    ix.write(merged, ix.BLOOM, table_name, "words")
    stats = new_docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    ix.write(stats, ix.BLOOM, table_name, "stats", mode="append")


def probe_bloom_index(
    spark,
    table_name: str,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str | None = None,
) -> DataFrame:
    """Probe the PERSISTED filter: ``(id_col, bloom_hit)``.  Hashing
    parameters come from the meta row (the index-defining-params
    contract — ``text_col`` may only restate the pinned column, a
    differing value raises); the words table broadcasts, so the probe
    ships only the batch's own k rows per document."""
    m = ix.read_meta(spark, table_name)
    tc = _meta_text_col(m, text_col)
    return bloom_probe(new_docs, spark.table(f"{table_name}_words"),
                       tc, id_col=id_col, m_bits=int(m.m_bits))


def attach_bloom_index(spark, table_name: str,
                       location_root: str | None = None) -> None:
    """Re-register a Bloom index written by an earlier session (the
    in-memory catalog forgets managed tables while their files
    survive): meta/words/stats come back as external tables
    (``sources/index.py::attach``).  No bucket spec — the words table
    is broadcast-read, never join-bucketed."""
    ix.attach(spark, ix.BLOOM, table_name, location_root)


def bloom_index_stats(spark, table_name: str) -> DataFrame:
    """Integer-exact health report of the persisted filter:
    ``(m_bits, n_words, n_set_bits, n_docs_inserted, fill_ratio)``.
    Everything before the terminal division is an integer
    (``bit_count`` per word, summed); ``fill_ratio`` is ONE double
    division of two exact integers, 6dp-rounded — the hll_vocab
    contract.  No ln-based cardinality estimate in the gate: ln is not
    bit-stable cross-engine."""
    m = ix.read_meta(spark, table_name)
    words = spark.table(f"{table_name}_words")
    stats = spark.table(f"{table_name}_stats")
    n_docs = stats.agg(F.sum("n_docs").cast("long").alias("__nd"))
    return (
        words.agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.expr("bit_count(bits)")).cast("long")
            .alias("n_set_bits"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.lit(int(m.m_bits)).cast("long").alias("m_bits"),
            "n_words", "n_set_bits",
            F.col("__nd").alias("n_docs_inserted"),
            F.round(F.col("n_set_bits").cast("double")
                    / F.lit(float(int(m.m_bits))), 6).alias("fill_ratio"))
    )


def bloom_index_stats_oracle_sql(
    *,
    m_bits: int = 1 << 16,
    corpus_pred: str = "doc_id % 2 = 0",
    source: str = "documents",
) -> str:
    """Oracle for :func:`bloom_index_stats` that re-derives the filter
    content from the RAW corpus (the boolean_search_indexed precedent:
    persisted state is pinned against an independent derivation, not
    against itself)."""
    m = int(m_bits)
    cpos = "\n  UNION ALL\n".join(
        f"  SELECT ('0x' || substr(hx, {1 + 8 * i}, 8))::BIGINT"
        f" % {m} AS p FROM dc"
        for i in range(_K))
    return f"""
WITH dc AS (
  SELECT md5(text) AS hx FROM {source} WHERE {corpus_pred}
),
cpos AS (
{cpos}
),
words AS (
  SELECT p // 32 AS word_idx,
         bit_or(1::BIGINT << (p % 32)::INT) AS bits
  FROM cpos GROUP BY 1
)
SELECT {m}::BIGINT AS m_bits,
       count(*)::BIGINT AS n_words,
       sum(bit_count(bits))::BIGINT AS n_set_bits,
       (SELECT count(*) FROM {source} WHERE {corpus_pred})::BIGINT
         AS n_docs_inserted,
       round(CAST(sum(bit_count(bits)) AS DOUBLE)
             / CAST({float(m)!r} AS DOUBLE), 6) AS fill_ratio
FROM words
"""
