"""Deduplication operator family for training-data pipelines.

Five strategies, each a distinct cost/recall point (SURVEY's pipeline
requirements; the minhash family lives in ``similarity_join.py``):

  * exact        — identical text (hash group-by)
  * normalized   — identical after whitespace/case canonicalization
  * minhash LSH  — ``lsh_self_dedup_pairs`` / ``lsh_dedup_keep_first``
  * simhash      — 64-bit fingerprints, near-dup iff hamming ≤ r
  * embedding    — cosine ≥ threshold on an embedding column

SimHash uses the same FxHash primitive as the reference's shingles (cited:
``src/minhash/shingleset.rs:37-47``) over whitespace tokens; the bit-vote
accumulation is numpy (popcount-style unpack), one pandas-UDF pass per row
batch.  Hamming blocking uses the standard 4-block trick: duplicates with
hamming ≤ 3 share at least one of 4 16-bit blocks → equi-join per block,
never a cross product.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..functions.vector import cosine
from ..plans.cache import track
from ..sources import index as ix
from .._core.batch import hash_strings_batch


# ---------------------------------------------------------------------------
# exact / normalized
# ---------------------------------------------------------------------------

def normalized_text(col) -> Column:
    """Canonical form: lowercase, collapse whitespace, strip."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "\\s+", " "))


def normalized_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return (
        df.groupBy(normalized_text(text_col).alias("__norm"))
        .agg(F.min(id_col).alias("canonical_id"),
             F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .select("canonical_id", "n_copies")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per identical text — as ONE hash-aggregate
    keyed on the text's md5 digest carrying ``min(struct(id, row))``
    (the line-dedup winner contract, ``dedup_lines_df``):

      * the upstream lineage is scanned ONCE (the old groupBy + semi-join
        form re-ran it per branch — measured 1.2-1.5x whole-pipeline cost
        when the input is a regex-heavy enrichment or a line-dedup
        rebuild);
      * the grouping key is a 128-bit digest, never raw text, and
        map-side partial min collapses duplicate rows before the
        exchange — a boilerplate text duplicated 10⁹ times crosses the
        wire once;
      * md5 equality IS the dedup criterion (same trust the line-dedup
        operator documents); struct comparison resolves on the id field
        because every other field is a function of the identical text.

    Contract: every column of ``df`` must be ORDERABLE (the winner is
    ``min(struct(id, *other_columns))``) — frames carrying map-typed
    columns fail at analysis time.  Project unorderable payloads out
    and re-attach by id afterwards (the repo's ids-only re-attach
    idiom); packing only the id into the min would force a second scan
    of the upstream lineage per the measurement above.
    """
    others = [c for c in df.columns if c != id_col]
    w = (
        df.groupBy(F.md5(F.col(text_col)).alias("__dig"))
        .agg(F.min(F.struct(F.col(id_col),
                            *[F.col(c) for c in others])).alias("__w"))
    )
    return w.select([F.col(f"__w.{c}").alias(c) for c in df.columns])


# ---------------------------------------------------------------------------
# cross-document duplicate SUBSTRING detection (anchor-hash windows — the
# suffix-array-flavored exact-substring dedup of "Deduplicating Training
# Data Makes Language Models Better", approximated with strided fixed
# windows so it runs as one distributed aggregate instead of a global
# suffix sort)
# ---------------------------------------------------------------------------

# canonical-occurrence packing bound: pos < 1e6 (the _PTC_CID idiom —
# documents beyond ~1e6 chars would need a struct key)
_SPAN_CID = 1_000_000


def duplicate_substring_spans_df(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 16,
) -> DataFrame:
    """Fixed-width substring windows (``window`` chars every ``stride``)
    hashed and grouped across the corpus: windows whose text occurs in
    MORE THAN ONE document are repeated spans — the memorization /
    boilerplate signal exact-substring dedup cuts on.  Any repeated
    substring of length ≥ window + stride − 1 is guaranteed to produce
    at least one aligned window hit in both copies when the copies are
    aligned modulo stride; unaligned copies are detected with
    probability ~(window−stride)/window per span (raise the overlap by
    lowering ``stride`` for recall, at linear cost).

    Returns one row per duplicated window text: the canonical first
    occurrence (lowest (doc_id, pos)) plus corpus-wide counts —
    ``(doc_id, pos, n_docs, n_occurrences)``; ``pos`` is 0-based.

    100 TB shape: one in-plan explode (no Python), the wide exchange
    carries (md5 digest, packed id) pairs — window TEXT never shuffles;
    the distinct-doc count and the min-occurrence pack are both
    combiner-friendly aggregates.

    Packing bound: the canonical occurrence rides as ``doc_id * 1e6 +
    pos``, so a document longer than ``1e6 + window - 1`` chars would
    silently corrupt the unpacked key — the grid expression raises
    in-plan (one length comparison per document) instead; split
    oversized documents upstream or swap the pack for a struct key."""
    overflow = _SPAN_CID + window
    grid = (
        f"CASE WHEN length({text_col}) >= {overflow} THEN "
        f"sequence(0, CAST(raise_error('duplicate_substring_spans: "
        f"document text of {overflow}+ chars overflows the packed "
        f"(doc_id, pos) key (pos < {_SPAN_CID}); split oversized "
        f"documents or use a struct key') AS INT)) "
        f"WHEN length({text_col}) >= {window} THEN "
        f"sequence(0, CAST((length({text_col}) - {window}) DIV {stride} "
        f"AS INT)) ELSE array() END"
    )
    spans = (
        docs.select(F.col(id_col), F.col(text_col),
                    F.explode(F.expr(grid)).alias("__i"))
        .select(
            F.col(id_col),
            (F.col("__i").cast("long") * stride).alias("__pos"),
            F.md5(F.expr(
                f"substring({text_col}, __i * {stride} + 1, {window})"))
            .alias("__dig"),
        )
    )
    agg = (
        spans.groupBy("__dig")
        .agg(
            F.countDistinct(id_col).cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min(F.col(id_col) * _SPAN_CID + F.col("__pos")).alias("__w"),
        )
        .where(F.col("n_docs") > 1)
    )
    return agg.select(
        F.expr(f"__w DIV {_SPAN_CID}").alias(id_col),
        (F.col("__w") % _SPAN_CID).alias("pos"),
        "n_docs", "n_occurrences",
    )


# ---------------------------------------------------------------------------
# line-level dedup (C4 / RefinedWeb-style duplicated-line removal)
# ---------------------------------------------------------------------------

def dedup_lines_df(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide duplicated-LINE removal — the C4/CCNet boilerplate
    pass: every line that occurs more than once across the whole corpus
    is kept only at its first occurrence (lowest ``(id, pos)``), all
    later copies are dropped, and documents are rebuilt from their
    surviving lines in order.

    Returns (id, n_lines, n_kept, clean_text).

    Scale shape: the winner-per-line step is a single hash-aggregate
    ``min(struct(id, pos))`` grouped by the line's md5 digest — lines
    shuffle as constant-width digests (never text), partial aggregation
    combines map-side, and no window over an unbounded partition exists
    (a boilerplate line duplicated 10⁹ times is ONE group whose min is
    computed in the combiner).  Kept positions roll up to one small
    int-array per doc, which joins back onto the corpus scan by id —
    the only payload-bearing shuffle is that final by-id join, linear in
    the corpus with no skew amplification.  Deployments beyond oracle
    reach can swap md5 for ``xxhash64(line, length(line))`` to halve the
    digest shuffle width."""
    lines_col = F.split(F.col(text_col), sep, -1)
    base = docs.select(id_col, text_col).withColumn("__lines", lines_col)
    flat = base.select(
        id_col, F.posexplode("__lines").alias("pos", "__line"))
    hashed = flat.select(id_col, "pos", F.md5("__line").alias("__h"))
    winners = (
        hashed.groupBy("__h")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w"))
        .select(F.col(f"w.{id_col}").alias(id_col),
                F.col("w.pos").alias("pos"))
    )
    kept = winners.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("__kept"))
    kp = F.coalesce(F.col("__kept"), F.array().cast("array<int>"))
    return (
        base.join(kept, on=id_col, how="left")
        .select(
            id_col,
            F.size("__lines").alias("n_lines"),
            F.size(kp).alias("n_kept"),
            F.array_join(
                F.transform(kp, lambda i: F.get("__lines", i)),
                sep).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash64(col) -> Column:
    """64-bit SimHash over whitespace tokens (FxHash token hashes,
    bit-vote with +1/-1, sign → bit).  Returns int64 (two's complement)."""

    @pandas_udf(LongType())
    def _udf(s: pd.Series) -> pd.Series:
        out = np.zeros(len(s), dtype=np.int64)
        mask = s.notna().to_numpy()
        token_lists = [t.split() if ok else [] for t, ok in zip(s, mask)]
        counts = np.fromiter((len(t) for t in token_lists), dtype=np.int64,
                             count=len(token_lists))
        flat = [tok for lst in token_lists for tok in lst]
        if flat:
            # token hash: same FxHash-u32 primitive as the reference's
            # shingle hashing, extended to 64 bits by a second fold
            h32 = hash_strings_batch(flat)
            # spread to 64 bits deterministically (splitmix-style mix)
            h = h32.astype(np.uint64)
            h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            h = h ^ (h >> np.uint64(31))
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.int64)
            votes = bits * 2 - 1  # (n_tokens, 64) in {-1, +1}
            offs = np.zeros(len(token_lists) + 1, dtype=np.int64)
            np.cumsum(counts, out=offs[1:])
            nonempty = counts > 0
            starts = offs[:-1][nonempty]
            sums = np.add.reduceat(votes, starts, axis=0)
            sig_bits = (sums > 0).astype(np.uint64)
            sigs = np.zeros(nonempty.sum(), dtype=np.uint64)
            for b in range(64):
                sigs |= sig_bits[:, b] << np.uint64(b)
            out[nonempty] = sigs.view(np.int64)
        res = pd.Series(out)
        res[~mask] = None
        return res

    return _udf(F.col(col) if isinstance(col, str) else col)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    *,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with simhash hamming distance ≤ ``max_hamming`` (≤ 3 uses the
    4×16-bit block pigeonhole: any such pair agrees on ≥1 block)."""
    from ..sources.io import fanout_scan

    sigs = fanout_scan(df.select(F.col(id_col).alias("__id"),
                                 F.col(text_col).alias("__text"))).select(
        "__id",
        simhash64("__text").alias("__sig"),
    ).where(F.col("__sig").isNotNull())
    track(sigs.persist())

    blocks = None
    for b in range(4):
        part = sigs.select(
            "__id", "__sig",
            F.lit(b).alias("block_idx"),
            F.shiftright("__sig", b * 16).bitwiseAND(F.lit(0xFFFF))
            .alias("block_val"),
        )
        blocks = part if blocks is None else blocks.unionAll(part)

    a = blocks.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sig_a"),
                      "block_idx", "block_val")
    b_ = blocks.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sig_b"),
                       "block_idx", "block_val")
    cand = (
        a.join(b_, on=["block_idx", "block_val"], how="inner")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sig_a", "__sig_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("__sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding cosine
# ---------------------------------------------------------------------------

def embedding_dup_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    sample_max_id: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold, id_a < id_b.

    Exact all-pairs within the (optionally bounded) id range — the
    oracle-able baseline.  Scoring goes through the blocked-tile kernel
    (``embedding_allpairs_cosine``), whose dimension-major accumulation
    reproduces the JVM/DuckDB sequential dot-product fold bit for bit —
    same results as the former per-pair crossJoin, ~3× cheaper."""
    base = df
    if sample_max_id is not None:
        base = base.where(F.col(id_col) < sample_max_id)
    return embedding_allpairs_cosine(
        base, vec_col=vec_col, id_col=id_col, threshold=threshold,
        block_count=8)


def embedding_near_dup_lsh(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    bucket_width: float = 2.0,
    band_count: int = 8,
    band_size: int = 1,
    seed: int = 123,
    strategy: str = "auto",
    block_count: int = 16,
) -> DataFrame:
    """Embedding near-dup pairs: vector pairs sharing ≥1 Euclidean-LSH
    band (the reference's ``lsh_euclidean`` as blocking key) whose exact
    cosine passes ``threshold``.  Returns (id_a, id_b, cosine_sim),
    id_a < id_b.

    Two physical plans for one logical result, chosen by the Euclidean
    S-curve (``banding.euclidean_banding_pass_rate`` at the background
    distance √2 of unrelated unit vectors):

    * ``block`` — blocking-join-first: band equi-join ships ONLY
      (id, band_idx, band_hash); vectors re-attach to surviving unique
      pairs by id.  Right when banding is selective: shuffle volume is
      rows × band_count, never |corpus|².
    * ``verify_first`` — when the S-curve says banding passes most
      background pairs (low thresholds / wide buckets), the band join IS
      the cross product plus overhead, so score all pairs with the
      blocked-tile kernel (``embedding_allpairs_cosine``) and apply the
      band-collision test only to the few verified survivors.

    ``auto`` picks ``verify_first`` when the estimated background pass
    rate exceeds 25% (estimate assumes unit-norm embeddings)."""
    from math import sqrt

    from ..functions.lsh import lsh_euclidean_bands_long
    from .banding import euclidean_banding_pass_rate

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    bands = lsh_euclidean_bands_long(
        F.col("__v"), bucket_width, band_count, band_size, seed)
    if strategy == "auto":
        bg_pass = euclidean_banding_pass_rate(
            sqrt(2.0), bucket_width, band_count, band_size)
        strategy = "verify_first" if bg_pass > 0.25 else "block"

    if strategy == "verify_first":
        cand = embedding_allpairs_cosine(
            df, vec_col=vec_col, id_col=id_col, threshold=threshold,
            block_count=block_count)
        # band-collision filter on the (small) verified set: pair ids
        # re-attach their band arrays; a pair survives iff some band
        # hash matches.  Candidate payloads stay (id, id, cosine).
        blocks = base.select(
            "__id", F.posexplode(bands).alias("band_idx", "band_hash"))
        a = blocks.select(F.col("__id").alias("id_a"),
                          "band_idx", "band_hash")
        b = blocks.select(F.col("__id").alias("id_b"),
                          "band_idx", "band_hash")
        return (
            cand.join(a, on="id_a")
            .join(b, on=["id_b", "band_idx", "band_hash"], how="left_semi")
            .dropDuplicates(["id_a", "id_b"])
            .select("id_a", "id_b", "cosine_sim")
        )

    blocks = base.select(
        "__id", F.posexplode(bands).alias("band_idx", "band_hash"))
    a = blocks.select(F.col("__id").alias("id_a"), "band_idx", "band_hash")
    b = blocks.select(F.col("__id").alias("id_b"), "band_idx", "band_hash")
    pairs = (
        a.join(b, on=["band_idx", "band_hash"], how="inner")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    vb = base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    return (
        pairs.join(va, on="id_a").join(vb, on="id_b")
        .withColumn("cosine_sim", F.round(cosine("__va", "__vb"), 6))
        .where(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def semantic_dedup_cells(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 32,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-shaped semantic dedup: cluster embeddings with the
    training-free IVF coarse quantizer (the ``n_lists`` lowest-id vectors
    are the centroids — fully deterministic, so a DuckDB oracle reproduces
    cells AND verdicts), then keep, within each cell, only vectors with no
    lower-id cell-mate at cosine ≥ ``threshold``.

    Returns every input row as (``id_col``, cell, is_representative) —
    the assignment plus the retention verdict.

    100 TB shape: cell assignment is a zero-shuffle projection against the
    broadcast centroid array (same kernel as ``ann.ivf_flat_topk``); the
    candidate stage self-joins (id, cell) pairs ONLY — vectors re-attach
    to candidate pairs by id, so shuffle payloads are ids, never the
    embedding column, and pair volume is bounded by within-cell sizes
    instead of |corpus|².  Raising ``n_lists`` is the knob that caps cell
    width as the corpus grows."""
    from pyspark import StorageLevel

    from ..plans.cache import track
    from .ann import _assign_cells_pandas, _cells_array, _collect_centroids

    from ..sources.io import fanout_scan

    base = fanout_scan(df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ))
    # the input lineage feeds four consumers (centroids, assignment, and
    # both pair-side re-attaches); persist it once so a computed input
    # (e.g. a transform chain) is not re-evaluated per consumer — and
    # fan a single-file scan out first, or the cached single partition
    # serializes the assignment kernel into one task (profiled 1.6 s
    # single-task at sf0.1; assignment and centroid pick are per-row /
    # lowest-id deterministic, so the repartition is result-neutral)
    base = track(base.persist(StorageLevel.MEMORY_AND_DISK))
    bc = _collect_centroids(_cells_array(base, "__id", "__v", n_lists))
    assigned = _assign_cells_pandas(base, bc, "__v")
    ids = assigned.select("__id", "__cell")
    a = ids.select(F.col("__id").alias("id_a"), "__cell")
    b = ids.select(F.col("__id").alias("id_b"), "__cell")
    pairs = (
        a.join(b, on="__cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    va = base.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    vb = base.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    dropped = (
        pairs.join(va, on="id_a").join(vb, on="id_b")
        .where(F.round(cosine("__va", "__vb"), 6) >= threshold)
        .select(F.col("id_b").alias("__id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__dropped", F.lit(True)),
                      on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.col("__cell").alias("cell"),
            F.coalesce(~F.col("__dropped"), F.lit(True))
            .alias("is_representative"),
        )
    )


def embedding_allpairs_cosine(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    block_count: int = 16,
) -> DataFrame:
    """Exact all-pairs cosine ≥ ``threshold`` via BLOCKED MATRIX products:
    ids are hashed into ``block_count`` blocks, every unordered block
    pair becomes one task, and each task scores its |Bi|×|Bj| pair tile
    with numpy — dimension-major accumulation, so every dot product is
    the same left-to-right IEEE fold as ``functions.vector.dot`` (and
    the DuckDB oracle's ``list_dot_product``), bit for bit.

    This is the right plan when LSH banding cannot block — at low
    thresholds the S-curve passes nearly all pairs (see
    ``banding.euclidean_banding_pass_rate``) and the per-pair join
    machinery pays shuffle + row overhead on |N|² rows, while the tile
    kernel pays one Arrow batch per block pair and amortizes the scoring
    into vectorized array ops.  Communication is rows × block_count
    (each vector ships to the block-pairs it participates in), compute
    is the unavoidable N²·dim/2 — the classic distributed all-pairs
    similarity layout.  Raise ``block_count`` so tiles fit executor
    memory as the corpus grows.

    Emits UNROUNDED cosine values filtered at ``threshold - 1e-6``; the
    caller applies the exact ``round(·, 6) ≥ threshold`` decision (JVM
    round semantics, off the Python path)."""
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   LongType, StructField, StructType)

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(block_count)).cast("int")
        .alias("__blk"),
    )
    rep = base.select(
        "__id", "__v", "__blk",
        F.explode(F.sequence(F.lit(0), F.lit(block_count - 1)))
        .alias("__other"),
    ).select(
        "__id", "__v", "__blk",
        F.least("__blk", "__other").alias("__bi"),
        F.greatest("__blk", "__other").alias("__bj"),
    )
    out_schema = StructType([
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("__cos_raw", DoubleType()),
    ])
    margin = threshold - 1e-6

    def _score(key, pdf):
        bi, bj = key
        ids = pdf["__id"].to_numpy()
        vecs = pdf["__v"].to_numpy()
        dims = {len(v) for v in vecs}
        if len(dims) > 1:
            # mirror the reference's lsh_euclidean contract
            # (src/euclidean_hash.rs:31-45): one shared length per batch
            raise ValueError(
                "embedding arrays must share one length; "
                f"got lengths {sorted(dims)}")
        mat = np.stack(vecs).astype(np.float64)
        blk = pdf["__blk"].to_numpy()
        left = blk == bi
        l_ids, r_ids = ids[left], ids[~left]
        L, R = mat[left], mat[~left]
        if bi == bj:
            r_ids, R = l_ids, L

        def tile_dots(A, B):
            acc = np.zeros((A.shape[0], B.shape[0]))
            for k in range(A.shape[1]):
                # dimension-major += is the sequential fold, vectorized
                # across the whole tile
                acc += np.outer(A[:, k], B[:, k])
            return acc

        def row_norms(A):
            acc = np.zeros(A.shape[0])
            for k in range(A.shape[1]):
                acc += A[:, k] * A[:, k]
            return np.sqrt(acc)

        if L.shape[0] == 0 or R.shape[0] == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "__cos_raw": []})
        dots = tile_dots(L, R)
        na = row_norms(L)
        nb = na if bi == bj else row_norms(R)
        denom = na[:, None] * nb[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, dots / denom, 0.0)
        ii, jj = np.where(cos >= margin)
        a, b = l_ids[ii], r_ids[jj]
        keep = a != b
        a, b, c = a[keep], b[keep], cos[ii, jj][keep]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        out = pd.DataFrame({"id_a": lo, "id_b": hi, "__cos_raw": c})
        if bi == bj:
            out = out.drop_duplicates(["id_a", "id_b"])
        return out

    scored = rep.groupBy("__bi", "__bj").applyInPandas(_score, out_schema)
    return (
        scored
        .withColumn("cosine_sim", F.round(F.col("__cos_raw"), 6))
        .where(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# content-defined chunking (round 11) — sub-document dedup: the sixth
# strategy, localizing WHERE two documents share content instead of
# scoring whole-document similarity
# ---------------------------------------------------------------------------

_CDC_WINDOW, _CDC_BASE, _CDC_DIVISOR = 8, 1099511628211, 64


def _cdc_chunks(docs: DataFrame, *, id_col: str, text_col: str,
                window: int, base: int, divisor: int) -> DataFrame:
    """(doc_id, __ch) chunk-digest rows for a corpus — the shared core
    of the stats query and the persisted chunk index.  Spans ride the
    SAME mapInPandas row as the carried text (explode → substring → md5
    in JVM codegen); chunk text never crosses a shuffle."""
    from pyspark.sql.types import (ArrayType, IntegerType, StructField,
                                   StructType)

    src = docs.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("__text"))
    schema = StructType([
        src.schema["doc_id"],
        StructField("__text", src.schema["__text"].dataType),
        StructField("__starts", ArrayType(IntegerType())),
        StructField("__lens", ArrayType(IntegerType())),
    ])

    def spans(batches):
        from .._core.batch import cdc_spans_batch

        for pdf in batches:
            if not len(pdf):
                continue
            starts, lens = cdc_spans_batch(
                list(pdf["__text"]), window=window, base=base,
                divisor=divisor)
            out = pdf[["doc_id", "__text"]].copy()
            out["__starts"] = starts
            out["__lens"] = lens
            yield out

    spanned = src.mapInPandas(spans, schema=schema)
    return (
        spanned.select(
            "doc_id",
            F.explode(F.arrays_zip("__starts", "__lens")).alias("__sp"),
            F.col("__text"))
        .select(
            "doc_id",
            F.md5(F.expr(
                "substring(__text, __sp.__starts, __sp.__lens)"))
            .alias("__ch"))
    )


def cdc_chunk_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = _CDC_WINDOW,
    base: int = _CDC_BASE,
    divisor: int = _CDC_DIVISOR,
) -> DataFrame:
    """Content-defined chunking + chunk-level cross-document dedup
    stats (LBFS-style windowed Rabin-Karp; see
    ``_core/batch.py::cdc_spans_batch`` for the boundary contract).
    Per document: chunk count, distinct chunk count, and how many of
    its distinct chunks also occur in ANOTHER document — the signal a
    storage- or licensing-dedup pass acts on, and a near-dup LOCALIZER
    (which 64-char stretch is copied, not just "these docs are 0.8
    similar").

    100 TB shape: boundary detection is position-local (a pure function
    of ``window`` code points — deliberately no min/max chunk clamps,
    which would need sequential suppression state), so the chunker is a
    zero-shuffle ``mapInPandas`` scan; chunk text never leaves its row
    (spans explode against the carried text, substring + md5 in JVM
    codegen); everything downstream is digest-keyed aggregates —
    32-hex digests only, never chunk payloads, through the shuffles.
    Cross-doc sharing is one (digest → doc-count) aggregate joined back
    by digest: the classic storage-dedup plan, no windows, no pairs."""
    chunks = _cdc_chunks(docs, id_col=id_col, text_col=text_col,
                         window=window, base=base, divisor=divisor)
    per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("__ch").alias("n_unique_chunks"),
    )
    cd = chunks.select("doc_id", "__ch").distinct()
    owners = cd.groupBy("__ch").agg(F.count(F.lit(1)).alias("__nd"))
    shared = (
        cd.join(owners.where(F.col("__nd") >= 2), on="__ch")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n_shared"))
    )
    return (
        per_doc.join(shared, on="doc_id", how="left")
        .select(
            "doc_id", "n_chunks", "n_unique_chunks",
            F.coalesce(F.col("__n_shared"), F.lit(0)).cast("bigint")
            .alias("n_shared_chunks"),
        )
    )


def _cdc_ch_ctes(
    sfx: str,
    source: str,
    *,
    window: int = _CDC_WINDOW,
    base: int = _CDC_BASE,
    divisor: int = _CDC_DIVISOR,
) -> str:
    """CTE chain ``pos{sfx}/ib{sfx}/bnd{sfx}/ch{sfx}`` computing
    (doc_id, ch) chunk digests for ``source`` — the SQL replay of the
    windowed Rabin-Karp boundary rule, per character position in
    HUGEINT (each ``code * base^k`` term < 2^85, the ``window``-term
    sum < 2^88, both inside HUGEINT; the mod-2^64 wrap is explicit).
    Shared by the stats oracle and the persisted-chunk-index oracles
    so the index gates re-derive chunking from the RAW corpus."""
    w = int(window)
    pow_lits = []
    acc = 1
    for k in range(w):
        pow_lits.append(acc)
        acc = (acc * int(base)) % (1 << 64)
    terms = " + ".join(
        f"ord(substr(text, p - {k}, 1))::HUGEINT * {pow_lits[k]}::HUGEINT"
        for k in range(w))
    return f"""pos{sfx} AS (
  SELECT doc_id, text, length(text) AS n,
         unnest(generate_series({w}, length(text))) AS p
  FROM {source} WHERE length(text) >= {w}
),
ib{sfx} AS (
  SELECT doc_id, text, n, p FROM pos{sfx}
  WHERE (({terms}) % 18446744073709551616) % {int(divisor)} = 0
    AND p < n
),
bnd{sfx} AS (
  SELECT doc_id, text, p FROM ib{sfx}
  UNION ALL
  SELECT doc_id, text, length(text) AS p FROM {source}
  WHERE length(text) > 0
),
ch{sfx} AS (
  SELECT doc_id,
         md5(substr(text, coalesce(lag(p) OVER w{sfx}, 0) + 1,
                    p - coalesce(lag(p) OVER w{sfx}, 0))) AS ch
  FROM bnd{sfx} WINDOW w{sfx} AS (PARTITION BY doc_id ORDER BY p)
)"""


def cdc_chunk_stats_oracle_sql(
    *,
    window: int = _CDC_WINDOW,
    base: int = _CDC_BASE,
    divisor: int = _CDC_DIVISOR,
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`cdc_chunk_stats` (boundary replay in
    :func:`_cdc_ch_ctes`)."""
    return f"""
WITH {_cdc_ch_ctes('', source, window=window, base=base,
                   divisor=divisor)},
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_chunks,
         count(DISTINCT ch)::BIGINT AS n_unique_chunks
  FROM ch GROUP BY doc_id
),
cd AS (SELECT DISTINCT doc_id, ch FROM ch),
owners AS (
  SELECT ch, count(*)::BIGINT AS nd FROM cd GROUP BY ch
),
shared AS (
  SELECT cd.doc_id, count(*)::BIGINT AS n_shared
  FROM cd JOIN owners USING (ch)
  WHERE owners.nd >= 2
  GROUP BY cd.doc_id
)
SELECT p.doc_id, p.n_chunks, p.n_unique_chunks,
       coalesce(s.n_shared, 0)::BIGINT AS n_shared_chunks
FROM per_doc p LEFT JOIN shared s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# persisted CDC chunk index — the incremental-crawl storage-dedup flow:
# chunk the corpus ONCE into a bucketed digest table; every new batch
# chunks only itself and probes by digest with no corpus-side exchange.
# ---------------------------------------------------------------------------

def build_cdc_chunk_index(
    corpus: DataFrame,
    table_name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = _CDC_WINDOW,
    base: int = _CDC_BASE,
    divisor: int = _CDC_DIVISOR,
    num_buckets: int = 32,
) -> None:
    """Persist the corpus's distinct (doc, chunk-digest) rows as
    ``<name>_chunks`` bucketed by digest, plus a ``<name>_meta`` row
    pinning the chunking parameters (window/base/divisor are
    index-defining the way banding parameters are for the LSH index —
    probes read them from the meta so a probe can never chunk with
    different boundaries than the index).  Lifecycle: see
    ``sources/index.py``."""
    chunks = (
        _cdc_chunks(corpus, id_col=id_col, text_col=text_col,
                    window=window, base=base, divisor=divisor)
        .select(F.col("doc_id").alias("__rid"), "__ch")
        .distinct()
    )
    ix.write(chunks, ix.CDC, table_name, "chunks", num_buckets=num_buckets)
    ix.finish_build(corpus.sparkSession, ix.CDC, table_name, id_col=id_col,
                    text_col=text_col, window=int(window), base=int(base),
                    divisor=int(divisor), num_buckets=int(num_buckets))


def delete_from_cdc_index(ids: DataFrame, table_name: str,
                          id_col: "str | None" = None) -> None:
    """Merge-on-read doc tombstones for the chunk index
    (``sources/index.py::delete``)."""
    ix.delete(ids, ix.CDC, table_name, id_col)


def chunk_novelty_against_index(
    spark,
    table_name: str,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per new-batch document: how many of its distinct chunks already
    exist in the persisted corpus index — ``(doc_id, n_unique_chunks,
    n_known_chunks, known_frac)``.  The standing incremental-crawl
    storage-dedup probe: only the batch is chunked; the digest
    semi-probe reads matching buckets of the bucketed ``_chunks`` table
    with no corpus-side exchange, and tombstoned corpus docs are
    anti-joined out first (merge-on-read).  Chunking parameters come
    from the index meta row — never from caller arguments — so probe
    boundaries can't drift from the index."""
    m = ix.read_meta(spark, table_name)
    probe = (
        _cdc_chunks(new_docs, id_col=id_col, text_col=text_col,
                    window=int(m.window), base=int(m.base),
                    divisor=int(m.divisor))
        .distinct()
    )
    live = ix.live_table(spark, ix.CDC, table_name, "chunks", m)
    totals = probe.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_unique_chunks"))
    known = (
        probe.join(live.select("__ch"), on="__ch", how="left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__known"))
    )
    return (
        totals.join(known, on="doc_id", how="left")
        .select(
            "doc_id", "n_unique_chunks",
            F.coalesce(F.col("__known"), F.lit(0)).cast("bigint")
            .alias("n_known_chunks"),
            F.round(
                F.coalesce(F.col("__known"), F.lit(0)).cast("double")
                / F.col("n_unique_chunks").cast("double"), 6)
            .alias("known_frac"),
        )
    )


def cdc_index_stats_df(spark, table_name: str) -> DataFrame:
    """Content profile of the LIVE rows of a persisted chunk index
    (tombstones anti-joined): total (doc, digest) rows, distinct
    digests, and the sharing maximum.  The gate oracle recomputes the
    same numbers from the RAW corpus, so this query pins persisted
    index content against an independent derivation (the index-stats
    contract)."""
    live = ix.live_table(spark, ix.CDC, table_name, "chunks",
                         ix.read_meta(spark, table_name))
    per_digest = live.groupBy("__ch").agg(
        F.count(F.lit(1)).alias("__nd"))
    return per_digest.agg(
        F.sum("__nd").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.max("__nd").cast("bigint").alias("max_docs_per_chunk"),
    )


def attach_cdc_chunk_index(spark, table_name: str,
                           location_root: "str | None" = None) -> None:
    """Re-register a chunk index's tables in a fresh session from files
    surviving on disk, bucket spec and tombstones included
    (``sources/index.py::attach``).  ``location_root`` overrides the
    warehouse directory (an index copied or mounted elsewhere)."""
    ix.attach(spark, ix.CDC, table_name, location_root)


def extend_cdc_chunk_index(corpus_delta: DataFrame,
                           table_name: str) -> None:
    """Incrementally grow a persisted chunk index: chunk ONLY the delta
    (parameters from the meta row — boundary drift is impossible) and
    APPEND to the bucketed ``_chunks`` table; Spark honors the existing
    bucket spec on append, so probes keep their exchange-free corpus
    side.  The daily-ingest shape: the corpus chunked once at build,
    each increment chunks only itself.

    Caller contract (the ``extend_lsh_corpus_index`` contract): delta
    ids must be NEW — id dedup against the index is a full ``_chunks``
    scan, the cost this operator exists to avoid; a repeated id only
    inflates ``cdc_index_stats`` row counts (novelty probes key on
    distinct digests and are unaffected), but dedup the delta upstream
    if ids can repeat."""
    spark = corpus_delta.sparkSession
    m = ix.read_meta(spark, table_name)
    chunks = (
        _cdc_chunks(corpus_delta, id_col=m.id_col, text_col=m.text_col,
                    window=int(m.window), base=int(m.base),
                    divisor=int(m.divisor))
        .select(F.col("doc_id").alias("__rid"), "__ch")
        .distinct()
    )
    ix.write(chunks, ix.CDC, table_name, "chunks", m, mode="append")


def compact_cdc_chunk_index(spark, table_name: str, *,
                            keep_previous: bool = False) -> None:
    """Maintenance pass after extends/deletes: rewrite ``_chunks`` into
    one file-set per bucket with tombstoned docs folded out and truncate
    ``_deletes`` (``sources/index.py::compact``)."""
    ix.compact(spark, ix.CDC, table_name, keep_previous=keep_previous)
