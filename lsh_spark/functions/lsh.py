"""The five reference LSH functions as Arrow UDF factories.

Reference surface (``src/lib.rs:41-52``): ``lsh_min``, ``lsh_min32``,
``lsh_jaccard``, ``lsh_euclidean``, ``lsh_euclidean32``.  Each factory here
closes over the tuning parameters as Python literals — the compile-time
analog of the reference's per-chunk constant-param rule
(``src/lib.rs:29-38``; SURVEY.md §2.3) — and returns a ``Column`` usable in
any DataFrame expression.  ``register_all`` exposes SQL names (see
``register.py``).

Type mapping (SURVEY.md §1.2):
  * u64 hash lists → ``ArrayType(DecimalType(20,0))`` — preserves the
    printed decimal value of the reference's UBIGINT output (u64 values
    exceed int64).
  * u32 hash lists → ``ArrayType(LongType())`` (lossless).
  * For joins, the ``*_bands_long`` variants reinterpret u64 as two's
    complement int64 — cheap, exact, equality-preserving (band joins only
    compare for equality).

NULL semantics: NULL input row → NULL output row, matching
``src/minhash.rs:67-70,127-130,268-274`` / ``src/euclidean_hash.rs:80-83``.
The UDFs are deterministic for fixed params, so Catalyst is free to
collapse/reorder them (SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np
# module-level: arrow_udf infers the UDF kind from the ``pa.Array`` type
# hints, which ``from __future__ import annotations`` leaves as strings
# resolved against this module's globals (a function-local import fails
# with UNSUPPORTED_SIGNATURE)
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .._core.batch import (
    jaccard_pairs_batch,
    minhash_from_window_hashes,
    minhash_text_batch,
    segment_intersect_counts,
)
from .._core.euclidean import euclidean_bands_batch

_DEC_ARRAY = ArrayType(DecimalType(20, 0))
_LONG_ARRAY = ArrayType(LongType())
_INT_ARRAY = ArrayType(IntegerType())


# --- the Arrow boundary ----------------------------------------------------
#
# Every list-column kernel crosses the Python boundary through these two
# helpers: Arrow ``list`` arrays are (offsets, flat values) already, so a
# batch goes in and out as whole numpy arrays, never as per-row Python
# objects (boxing each row was the largest Python cost of the set pass).

def _validity(arr) -> np.ndarray:
    """Per-row valid mask of an Arrow array (True = not NULL)."""
    if arr.null_count == 0:
        return np.ones(len(arr), dtype=bool)
    return arr.is_valid().to_numpy(zero_copy_only=False)


def _to_arrow_list(values, offsets, validity) -> pa.ListArray:
    """(flat values, row offsets of length n+1, valid mask) → Arrow list
    array; rows where ``validity`` is False are NULL.

    ``offsets=None`` with a 2-D ``values`` matrix makes one fixed-width
    row per matrix row (the band matrices).  uint64 values go out as
    ``decimal128(20,0)`` — the reference's UBIGINT surface — built as
    the little-endian 128-bit word pair ``[value, 0]``, with no
    per-value Python ``Decimal``."""
    if offsets is None:
        n, k = values.shape
        offsets = np.arange(n + 1, dtype=np.int64) * k
        values = values.reshape(-1)
    if values.dtype == np.uint64:
        words = np.zeros((values.shape[0], 2), dtype="<u8")
        words[:, 0] = values
        values = pa.Array.from_buffers(pa.decimal128(20, 0), values.shape[0],
                                       [None, pa.py_buffer(words)])
    mask = None if validity.all() else pa.array(~validity)
    return pa.ListArray.from_arrays(
        pa.array(np.asarray(offsets, dtype=np.int32)), values, mask=mask)


def _from_arrow_list(arr):
    """Arrow list array (or chunked array) → (flat values, int64 row
    offsets of length n+1 starting at 0, valid mask).  NULL rows are empty
    segments; a sliced or chunked input is rebased (its first offset may
    be non-zero)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lens = pc.list_value_length(arr).fill_null(0).to_numpy(
        zero_copy_only=False)
    offsets = np.zeros(len(arr) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    # flatten() drops NULL rows' child values and honours the slice
    return (arr.flatten().to_numpy(zero_copy_only=False), offsets,
            _validity(arr))


def _u64_list(mat: np.ndarray, mask: np.ndarray, form: str) -> pa.ListArray:
    """(n, bands) uint64 band matrix → list rows: ``"decimal"`` (u64 as
    DECIMAL(20,0)), ``"long"`` (two's-complement int64) or ``"low32"``
    (the low 32 bits, ``lsh_min32``)."""
    if form == "long":
        mat = mat.view(np.int64)
    elif form == "low32":
        mat = (mat & np.uint64(0xFFFFFFFF)).astype(np.int64)
    return _to_arrow_list(mat, None, mask)


def _texts(s: pa.Array):
    """String batch → (Python strings, None for NULL; valid mask)."""
    return s.to_pylist(), _validity(s)


def _minhash_text_mat(s: pa.Array, width, bc, bs, seed):
    texts, mask = _texts(s)
    return minhash_text_batch(texts, width, bc, bs, seed), mask


def _minhash_shingle_mat(s: pa.Array, bc, bs, seed):
    from .._core.batch import hash_strings_batch

    flat, offs, mask = _from_arrow_list(s)
    hashes = (hash_strings_batch(flat) if flat.shape[0]
              else np.empty(0, dtype=np.uint64))
    return minhash_from_window_hashes(hashes, offs, bc, bs, seed), mask


def lsh_min(col, ngram_width: int, band_count: int, band_size: int, seed: int) -> Column:
    """``lsh_min(VARCHAR, ...) -> LIST(UBIGINT)`` (``src/minhash.rs:23-83``)."""

    @arrow_udf(_DEC_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        mat, mask = _minhash_text_mat(s, ngram_width, band_count, band_size, seed)
        return _u64_list(mat, mask, "decimal")

    return _udf(col)


def lsh_min32(col, ngram_width: int, band_count: int, band_size: int, seed: int) -> Column:
    """``lsh_min32``: exactly the low 32 bits of ``lsh_min`` (``src/lib.rs:23-27``)."""

    @arrow_udf(_LONG_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        mat, mask = _minhash_text_mat(s, ngram_width, band_count, band_size, seed)
        return _u64_list(mat, mask, "low32")

    return _udf(col)


def lsh_min_shingles(col, band_count: int, band_size: int, seed: int) -> Column:
    """``lsh_min(LIST(VARCHAR), ...)`` overload (``src/minhash.rs:85-150``)."""

    @arrow_udf(_DEC_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        mat, mask = _minhash_shingle_mat(s, band_count, band_size, seed)
        return _u64_list(mat, mask, "decimal")

    return _udf(col)


def lsh_min32_shingles(col, band_count: int, band_size: int, seed: int) -> Column:
    @arrow_udf(_LONG_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        mat, mask = _minhash_shingle_mat(s, band_count, band_size, seed)
        return _u64_list(mat, mask, "low32")

    return _udf(col)


def _jaccard_texts(a: pa.Array, b: pa.Array, ngram_width: int) -> pa.Array:
    """Exact Jaccard of aligned text batches; NULL where either is NULL."""
    ta, ma = _texts(a)
    tb, mb = _texts(b)
    mask = ma & mb
    return pa.array(jaccard_pairs_batch(ta, tb, ngram_width), mask=~mask)


def lsh_jaccard(col_a, col_b, ngram_width: int) -> Column:
    """Exact Jaccard over hashed char-ngram sets (``src/minhash.rs:236-296``).

    0.0 if either set is empty; NULL if either input is NULL."""

    @arrow_udf(DoubleType())
    def _udf(a: pa.Array, b: pa.Array) -> pa.Array:
        return _jaccard_texts(a, b, ngram_width)

    return _udf(col_a, col_b)


def _euclidean_mat(s: pa.Array, bucket_width, bc, bs, seed):
    flat, offs, mask = _from_arrow_list(s)
    n = len(s)
    lens = (offs[1:] - offs[:-1])[mask]
    if not lens.shape[0]:
        return np.zeros((n, bc), dtype=np.uint64), mask
    if (lens != lens[0]).any():
        # mirrors src/euclidean_hash.rs:41
        raise ValueError("All input arrays must have the same length")
    xs = flat.astype(np.float64, copy=False).reshape(lens.shape[0], lens[0])
    sub = euclidean_bands_batch(xs, bucket_width, bc, bs, seed)
    mat = np.zeros((n, bc), dtype=np.uint64)
    mat[mask] = sub
    return mat, mask


def lsh_euclidean(col, bucket_width: float, band_count: int, band_size: int,
                  seed: int) -> Column:
    """``lsh_euclidean(LIST(DOUBLE), ...)`` (``src/euclidean_hash.rs:20-98``)."""

    @arrow_udf(_DEC_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        mat, mask = _euclidean_mat(s, bucket_width, band_count, band_size, seed)
        return _u64_list(mat, mask, "decimal")

    return _udf(col)


def lsh_euclidean32(col, bucket_width: float, band_count: int, band_size: int,
                    seed: int) -> Column:
    @arrow_udf(_LONG_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        mat, mask = _euclidean_mat(s, bucket_width, band_count, band_size, seed)
        return _u64_list(mat, mask, "low32")

    return _udf(col)


# --- join-layer variants: int64 two's-complement bands (equality-exact) ----

def lsh_min_bands_long(col, ngram_width: int, band_count: int, band_size: int,
                       seed: int) -> Column:
    """u64 band hashes reinterpreted as int64 — the cheap representation for
    band-equality blocking joins (no Decimal boxing)."""

    @arrow_udf(_LONG_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        mat, mask = _minhash_text_mat(s, ngram_width, band_count, band_size, seed)
        return _u64_list(mat, mask, "long")

    return _udf(col)


def lsh_min_shingles_bands_long(col, band_count: int, band_size: int,
                                seed: int) -> Column:
    """LIST(VARCHAR)-overload band hashes as int64 (two's complement) — the
    join/compare representation of ``lsh_min_shingles``."""

    @arrow_udf(_LONG_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        mat, mask = _minhash_shingle_mat(s, band_count, band_size, seed)
        return _u64_list(mat, mask, "long")

    return _udf(col)


def weighted_minhash_bands_long(col, band_count: int, band_size: int,
                                seed: int) -> Column:
    """tf-WEIGHTED MinHash band hashes (int64) over whitespace word
    tokens — weighted Jaccard for INTEGER weights via the replication
    reduction: occurrence k of a word contributes the shingle string
    ``"word k"`` (words contain no whitespace, so the composition is
    injective), and banded MinHash over the replicated shingles collides
    with the probability the WEIGHTED Jaccard
    ``Σ min(tf_a, tf_b) / Σ max(tf_a, tf_b)`` gives — the standard
    integer-weight reduction of weighted-set similarity to plain set
    MinHash.  Reuses the bit-exact ``from_shingles`` kernel
    (``shingleset.rs:12-22`` semantics), so the DuckDB oracle replays it
    with the existing string-hash + band machinery; the occurrence
    strings are hashed directly by ``weighted_occurrence_hashes`` with
    no composed-string materialization (bit-identical — pinned against
    the ``_replicated_shingles`` string mirror — and measured ~6x on
    the kernel)."""
    from .._core.batch import tokenize_words, weighted_occurrence_hashes

    @arrow_udf(_LONG_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        texts, mask = _texts(s)
        hashes, offs = weighted_occurrence_hashes(tokenize_words(texts))
        mat = minhash_from_window_hashes(hashes, offs, band_count,
                                         band_size, seed)
        return _u64_list(mat, mask, "long")

    return _udf(col)


def lsh_euclidean_bands_long(col, bucket_width: float, band_count: int,
                             band_size: int, seed: int) -> Column:
    @arrow_udf(_LONG_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        mat, mask = _euclidean_mat(s, bucket_width, band_count, band_size, seed)
        return _u64_list(mat, mask, "long")

    return _udf(col)


# --- shingle-set materialization (compute each doc's set once, reuse) ------
#
# Storage contract of every set column: each row's sorted-unique u32
# shingle hashes, stored as int32 (bit-reinterpreted — halves the bytes
# that flow through pair joins; sorted in the signed view, consistently on
# both producer and consumer).  The four shingle modes differ only in the
# per-row hash segments they produce; ``_sorted_sets`` applies the shared
# sort-unique tail.

def _word_grams(toks, width: int) -> "list[list[str]]":
    return [[" ".join(ws[i:i + width]) for i in range(len(ws) - width + 1)]
            for ws in toks]


def _shingle_hashes(texts, shingle: str, width: int):
    """(u32 hashes as uint64, per-row offsets) of one batch of non-null
    texts under a shingle mode:

    * ``char``: char ``width``-grams (``shingleset.rs`` text path);
    * ``word``: word ``width``-grams, FxHash of each ``"w1 w2"`` string.
      ONE tokenizer contract across the Python kernel, the JVM
      ``_with_word_bigrams`` expression and the DuckDB oracle: tokens
      are maximal runs of non-whitespace where whitespace is the ASCII
      class [ \\t\\n\\x0b\\f\\r] (= Java regex \\s), empty tokens dropped;
      NBSP and other Unicode spaces are NOT separators
      (tests/test_edge_cases.py pins leading-tab and NBSP inputs);
    * ``weighted``: tf-weighted replication — occurrence k of a word is
      the shingle ``"word k"`` (injective: words contain no whitespace),
      so plain Jaccard over the set is the weighted Jaccard
      ``Σ min(tf) / Σ max(tf)`` (``width`` unused);
    * ``weighted_word``: the same reduction over word ``width``-grams,
      ``"w1 .. wn k"``.

    The weighted modes hash the occurrence strings directly
    (``weighted_occurrence_hashes``, pinned bit-identical to the
    composed-string mirror ``_replicated_shingles``)."""
    from .._core.batch import (batch_window_hashes, flatten_texts,
                               hash_string_lists, tokenize_words,
                               weighted_occurrence_hashes)

    if shingle == "char":
        return batch_window_hashes(*flatten_texts(texts), width)
    toks = tokenize_words(texts)
    if shingle == "word":
        return hash_string_lists(_word_grams(toks, width))
    if shingle == "weighted":
        return weighted_occurrence_hashes(toks)
    return weighted_occurrence_hashes(_word_grams(toks, width))


_SHINGLE_MODES = ("char", "word", "weighted", "weighted_word")


def _sorted_sets(s: pa.Array, shingle: str, width: int):
    """Text batch → (flat sorted-unique int32 values, row bounds, valid
    mask); NULL rows get empty segments."""
    from .._core.batch import segment_unique_int32

    texts, mask = _texts(s)
    hashes, offs = _shingle_hashes(texts, shingle, width)
    vals, bounds = segment_unique_int32(
        hashes.astype(np.uint32).view(np.int32), offs)
    return vals, bounds, mask


def _set_col(col, shingle: str, width: int) -> Column:
    @arrow_udf(_INT_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        return _to_arrow_list(*_sorted_sets(s, shingle, width))

    return _udf(col)


def shingle_set_col(col, ngram_width: int) -> Column:
    """Materialize the char-ngram shingle set as a column (sorted unique
    u32 hashes stored as int32).  Lets pair-heavy operators (similarity
    join, dedup) hash each document ONCE instead of once per candidate
    pair."""
    return _set_col(col, "char", ngram_width)


def word_shingle_set_col(col, width: int = 2) -> Column:
    """Materialize the WORD-ngram shingle set (default bigrams) as sorted
    unique int32 — FxHash-u32 of each ``"w1 w2"`` shingle string.  Same
    storage contract as :func:`shingle_set_col`, so every downstream pair
    operator (banding, size pruning, batch-Jaccard verify) works
    unchanged."""
    return _set_col(col, "word", width)


def shingle_set_bands_col(col, shingle: str, ngram_width: int,
                          band_count: int, band_size: int,
                          seeds: "tuple[int, ...]") -> Column:
    """``struct<set: array<int>, bands: array<bigint>>`` in ONE Arrow
    pass: each row's shingle set (the set-column storage contract) and
    its banded MinHash as int64 two's complement, computed from the same
    sorted-unique u32 values — bit-identical to
    :func:`minhash_bands_from_set` over the set (a per-seed minimum over
    the set equals the minimum over the window multiset).  Several seeds
    concatenate in seed order, so element ``rot * band_count + i`` is
    band ``i`` of rotation ``rot`` — the fused ``band_idx`` of the
    seed-rotation join.  NULL text → NULL set and bands."""
    if shingle not in _SHINGLE_MODES:
        # a typo silently falling back to char shingles would return a
        # materially different retention set at the caller's threshold
        raise ValueError(
            f"unknown shingle mode {shingle!r}: expected 'char', 'word', "
            "'weighted' or 'weighted_word'")
    out_type = StructType([StructField("set", _INT_ARRAY),
                           StructField("bands", _LONG_ARRAY)])

    @arrow_udf(out_type)
    def _udf(s: pa.Array) -> pa.Array:
        vals, bounds, mask = _sorted_sets(s, shingle, ngram_width)
        u = vals.view(np.uint32).astype(np.uint64)
        mat = np.hstack([
            minhash_from_window_hashes(u, bounds, band_count, band_size, sd)
            for sd in seeds])
        return pa.StructArray.from_arrays(
            [_to_arrow_list(vals, bounds, mask), _u64_list(mat, mask, "long")],
            names=["set", "bands"])

    return _udf(col)


def _replicated_shingles(toks: "list[list[str]]") -> "list[list[str]]":
    """The integer-weight replication reduction as COMPOSED STRINGS:
    occurrence k of a word becomes the shingle string ``"word k"`` —
    injective because words contain no whitespace.  This is the
    readable mirror of what the DuckDB oracle replays in SQL; the hot
    path (``_core.batch.weighted_occurrence_hashes``) hashes the same
    occurrences directly without materializing these strings, and a
    parity test pins the two bit-identical."""
    from collections import Counter

    out = []
    for ws in toks:
        seen: Counter = Counter()
        comp = []
        for w in ws:
            seen[w] += 1
            comp.append(f"{w} {seen[w]}")
        out.append(comp)
    return out


def _set_hashes(s: pa.Array):
    """Set-column batch → (flat u32 values as uint64, row offsets, valid
    mask)."""
    flat, offs, mask = _from_arrow_list(s)
    return (flat.astype(np.int32, copy=False).view(np.uint32)
            .astype(np.uint64)), offs, mask


def minhash_bands_from_set(col, band_count: int, band_size: int, seed: int) -> Column:
    """Banded MinHash (int64 band hashes) computed from a materialized
    shingle-set column (output of :func:`shingle_set_col`)."""

    @arrow_udf(_LONG_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        flat, offs, mask = _set_hashes(s)
        mat = minhash_from_window_hashes(flat, offs, band_count, band_size, seed)
        return _u64_list(mat, mask, "long")

    return _udf(col)


def lsh_min_minima_long_from_set(col, band_count: int, band_size: int,
                                 seed: int) -> Column:
    """Per-seed minima (the classic pre-band-fold MinHash signature, as
    int64 two's complement) computed from a MATERIALIZED shingle-set
    column — bit-equal to :func:`lsh_min_minima_long` over the set's
    source text: each per-seed minimum ranges over the window-hash
    MULTISET, duplicates cannot change a minimum, and the set column
    stores exactly the sorted-unique u32 window hashes (the repo-wide
    storage contract).  NULL set → NULL row (the NULL-text contract);
    empty set → all-U64MAX row (the empty-text contract).  Lets the
    calibration estimator reuse a miner's cached sets instead of
    re-shingling the corpus."""
    from .._core.batch import seed_minima_from_window_hashes

    @arrow_udf(_LONG_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        flat, offs, mask = _set_hashes(s)
        mat = seed_minima_from_window_hashes(flat, offs, band_count,
                                             band_size, seed)
        return _u64_list(mat, mask, "long")

    return _udf(col)


def jaccard_from_sets(col_a, col_b) -> Column:
    """Exact Jaccard between two materialized shingle-set columns; 0.0
    when either set is empty, NULL when either is NULL."""

    @arrow_udf(DoubleType())
    def _udf(a: pa.Array, b: pa.Array) -> pa.Array:
        # one row-tagged merge over the whole Arrow batch counts every
        # row's |A∩B| at once (``segment_intersect_counts``).  Measured
        # on the sf0.1 verification workload (5.2M candidate pairs,
        # ~300-element sets): 24 s vs 88 s for Catalyst array_intersect
        # and 69 s for per-row np.intersect1d — the per-row paths pay
        # per-call overhead ~55 µs that the batch merge amortizes away.
        fa, oa, ma = _from_arrow_list(a)
        fb, ob, mb = _from_arrow_list(b)
        la, lb = oa[1:] - oa[:-1], ob[1:] - ob[:-1]
        ni = segment_intersect_counts(fa, la, fb, lb)
        j = np.where((la > 0) & (lb > 0),
                     ni / np.maximum(la + lb - ni, 1), 0.0)
        return pa.array(j, mask=~(ma & mb))

    return _udf(col_a, col_b)


def lsh_min_minima_long(col, ngram_width: int, band_count: int,
                        band_size: int, seed: int) -> Column:
    """Per-seed minima (the CLASSIC MinHash signature, length
    band_count·band_size, BEFORE the reference's band fold) as int64
    two's complement — equality-exact, used by the estimator-
    calibration diagnostics (``_core/batch.py::
    minhash_text_minima_batch``)."""
    from .._core.batch import minhash_text_minima_batch

    @arrow_udf(_LONG_ARRAY)
    def _udf(s: pa.Array) -> pa.Array:
        texts, mask = _texts(s)
        mat = minhash_text_minima_batch(texts, ngram_width, band_count,
                                        band_size, seed)
        return _u64_list(mat, mask, "long")

    return _udf(col)
