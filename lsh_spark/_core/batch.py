"""Arrow-batch kernels: whole-batch vectorized forms of the core pipelines.

These are what the Arrow UDFs call — one invocation per Arrow record batch
(the Spark analog of the reference's per-DataChunk kernel invocation,
``src/minhash.rs:154-161``).  Rather than looping rows in Python, documents
are flattened into one code-point array and every char-ngram window in the
batch is hashed in ``ngram_width`` numpy passes; per-document minima then
come from ``np.minimum.reduceat`` over document segments.

Key semantic points preserved from the reference:
  * min over a *multiset* equals min over the set, so MinHash needs no
    dedup pass (Jaccard does — it keeps set semantics).
  * empty documents (fewer code points than ngram_width) produce an empty
    shingle set → per-seed minima stay u64::MAX (``minhasher.rs:24-36``).
  * NULL inputs yield NULL outputs (handled by the UDF wrapper's mask).
"""

from __future__ import annotations

import numpy as np

from .fxhash import MASK64, fx_add_np
from .minhash import _seed_prefix_states
from .shingles import text_ords

_U64MAX = np.uint64(0xFFFFFFFFFFFFFFFF)
_MASK32 = np.uint64(0xFFFFFFFF)
_K = 0x517CC1B727220A95
# hash elements per cache block of seed_minima_from_window_hashes: 512 KB
# of u64, so a chunk plus its scratch buffer (1 MB) stay in a core's L2
# (2 MB per core on the 4-core Xeon it was tuned on; 16k-256k measured,
# 64k fastest)
_MINIMA_CHUNK = 1 << 16


def flatten_texts(texts) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate code points of every (non-null) text.

    Returns (ords, offsets) with offsets of length n+1.
    """
    encoded = [t.encode("utf-32-le") if t else b"" for t in texts]
    lens = np.fromiter((len(e) // 4 for e in encoded), dtype=np.int64,
                       count=len(encoded))
    offsets = np.zeros(len(encoded) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if offsets[-1] == 0:
        return np.empty(0, dtype=np.uint64), offsets
    ords = np.frombuffer(b"".join(encoded), dtype=np.uint32).astype(np.uint64)
    return ords, offsets


def batch_window_hashes(
    ords: np.ndarray, offsets: np.ndarray, width: int
) -> tuple[np.ndarray, np.ndarray]:
    """u32 shingle hashes (as uint64) of every valid window in the batch.

    Returns (hashes, win_offsets): ``hashes`` holds document d's window
    hashes in positions [win_offsets[d], win_offsets[d+1]).
    """
    n_docs = offsets.shape[0] - 1
    doc_lens = offsets[1:] - offsets[:-1]
    win_counts = np.maximum(doc_lens - width + 1, 0)
    win_offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(win_counts, out=win_offsets[1:])
    total = int(win_offsets[-1])
    if total == 0:
        return np.empty(0, dtype=np.uint64), win_offsets

    # Hash EVERY consecutive window of the flat code-point array with
    # contiguous slices (SIMD-friendly, no gathers), then select the
    # valid window starts — windows spanning a document boundary are
    # computed and discarded, which is cheaper than three fancy-indexed
    # gathers per window (measured 1.6x at the sf0.1 batch shape AND
    # far more stable under host memory-pressure windows: the gather
    # form swung 0.07-9.1 s run-to-run, the slice form held 45 ms).
    # Bit-exact: each selected window folds the identical ords in the
    # identical fx_add order.
    n_all = ords.shape[0] - width + 1
    state = np.full(n_all, (width * _K) & MASK64, dtype=np.uint64)
    for k in range(width):
        state = fx_add_np(state, ords[k:k + n_all])
    # global index of each window's first code point
    starts = np.repeat(offsets[:-1], win_counts) + (
        np.arange(total, dtype=np.int64)
        - np.repeat(win_offsets[:-1], win_counts)
    )
    return state[starts] & _MASK32, win_offsets


def _fold_band_hashes(minima: np.ndarray, band_count: int, band_size: int) -> np.ndarray:
    """minima (n, band_count*band_size) → band hashes (n, band_count)."""
    n = minima.shape[0]
    bands = minima.reshape(n, band_count, band_size)
    state = np.zeros((n, band_count), dtype=np.uint64)
    for j in range(band_size):
        state = fx_add_np(state, bands[:, :, j])
    return state


def seed_minima_from_window_hashes(
    hashes: np.ndarray,
    win_offsets: np.ndarray,
    band_count: int,
    band_size: int,
    seed: int,
) -> np.ndarray:
    """Per-seed minima for every document segment →
    (n_docs, band_count·band_size) uint64 — the pre-band-fold state of
    :func:`minhash_from_window_hashes` (extracted verbatim so the
    calibration diagnostics can read the classic per-seed MinHash
    estimator without touching the golden-pinned band fold)."""
    n_docs = win_offsets.shape[0] - 1
    n_seeds = band_count * band_size
    prefix = _seed_prefix_states(band_count, band_size, seed)
    # Hoist the FxHasher step's rotl of the (scalar, per-seed) prefix
    # state out of the array pass: fx_add(prefix, h) = (rotl(prefix,5)
    # ^ h) * K, so each seed pass is ONE xor-with-scalar + ONE multiply
    # instead of np.full + rotl + xor + multiply over the whole hash
    # array (measured 7.5x at the sf0.1 batch shape, and the per-seed
    # np.full allocation was the host-window instability hot spot).
    # Bit-exact: pure algebra on the identical wrapping-u64 ops.
    rot_prefix = (prefix << np.uint64(5)) | (prefix >> np.uint64(59))
    minima = np.full((n_docs, n_seeds), _U64MAX, dtype=np.uint64)
    nonempty = (win_offsets[1:] - win_offsets[:-1]) > 0
    if not hashes.shape[0]:
        return minima
    # reduceat needs strictly valid starts; run it over non-empty
    # segments only, then scatter back.  Cache blocking: the seeds loop
    # over one chunk of whole documents (~_MINIMA_CHUNK hash elements)
    # at a time, so the chunk and its reused xor/multiply buffer stay in
    # cache across all seeds instead of streaming the whole batch from
    # memory once per seed (measured 0.43-0.52 -> 0.28-0.35 s on a
    # 2500-doc, 245-seed batch, 4-core Xeon).  A document longer than a chunk is a
    # chunk of its own.  Bit-exact: every document's minimum still folds
    # the identical wrapping-u64 values.
    starts = win_offsets[:-1][nonempty]
    ends = win_offsets[1:][nonempty]
    n_ne = starts.shape[0]
    out = np.empty((n_ne, n_seeds), dtype=np.uint64)
    buf = np.empty(max(_MINIMA_CHUNK, int((ends - starts).max())),
                   dtype=np.uint64)
    k = np.uint64(_K)
    r0 = 0
    while r0 < n_ne:
        r1 = max(int(np.searchsorted(ends, starts[r0] + _MINIMA_CHUNK,
                                     side="right")), r0 + 1)
        c0, c1 = int(starts[r0]), int(ends[r1 - 1])
        chunk, h = hashes[c0:c1], buf[:c1 - c0]
        local = starts[r0:r1] - c0
        block = np.empty((n_seeds, r1 - r0), dtype=np.uint64)
        for s in range(n_seeds):
            np.bitwise_xor(chunk, rot_prefix[s], out=h)
            np.multiply(h, k, out=h)
            np.minimum.reduceat(h, local, out=block[s])
        out[r0:r1] = block.T
        r0 = r1
    minima[nonempty] = out
    return minima


def minhash_from_window_hashes(
    hashes: np.ndarray,
    win_offsets: np.ndarray,
    band_count: int,
    band_size: int,
    seed: int,
) -> np.ndarray:
    """Banded MinHash for every document segment → (n_docs, band_count)."""
    return _fold_band_hashes(
        seed_minima_from_window_hashes(hashes, win_offsets, band_count,
                                       band_size, seed),
        band_count, band_size)


def minhash_text_batch(
    texts, ngram_width: int, band_count: int, band_size: int, seed: int
) -> np.ndarray:
    """Full text→bands pipeline for a batch of (non-null) strings."""
    ords, offsets = flatten_texts(texts)
    hashes, win_offsets = batch_window_hashes(ords, offsets, ngram_width)
    return minhash_from_window_hashes(
        hashes, win_offsets, band_count, band_size, seed)


def hash_strings_batch(strings) -> np.ndarray:
    """FxHash-u32 (as uint64) of each whole string's char slice — the
    ``from_shingles`` path (``shingleset.rs:12-22``), vectorized by
    iterating max-length character columns with masking."""
    ords, offsets = flatten_texts(strings)
    n = offsets.shape[0] - 1
    lens = offsets[1:] - offsets[:-1]
    state = (lens.astype(np.uint64) * np.uint64(_K))  # length-prefix step
    max_len = int(lens.max()) if n else 0
    for k in range(max_len):
        live = lens > k
        idx = offsets[:-1][live] + k
        state[live] = fx_add_np(state[live], ords[idx])
    return state & _MASK32


def hash_string_lists(lists) -> tuple[np.ndarray, np.ndarray]:
    """FxHash-u32 (as uint64) of every string of every list, flattened,
    with per-list segment offsets (length ``len(lists)+1``)."""
    flat = [s for lst in lists for s in lst]
    hashes = (hash_strings_batch(flat) if flat
              else np.empty(0, dtype=np.uint64))
    counts = np.fromiter((len(x) for x in lists), dtype=np.int64,
                         count=len(lists))
    offs = np.zeros(len(lists) + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    return hashes, offs


def minhash_shingles_batch(
    shingle_lists, band_count: int, band_size: int, seed: int
) -> np.ndarray:
    """Custom-shingle-list pipeline for a batch of (non-null) lists of
    strings → (n, band_count)."""
    hashes, offs = hash_string_lists(shingle_lists)
    return minhash_from_window_hashes(hashes, offs, band_count, band_size, seed)


def factorize_tokens(flat) -> tuple[np.ndarray, np.ndarray]:
    """NUL-safe factorize of a flat list of Python-string tokens.

    ``pd.factorize`` over an object array of *str* routes through
    pandas' C-string hashtable, which compares keys as NUL-terminated C
    strings — ``'\\x00'`` and ``'\\x000'`` collapse to ONE code
    (round-6 verdict confirmed bug; real Common Crawl text contains
    U+0000).  Factorizing the tokens' utf-8 *bytes* encodings instead
    routes through the PyObject hashtable (length-aware hash/eq), and
    utf-8 byte order equals codepoint order, so lexicographic ranks
    computed over the uniques are unchanged.  Returns
    ``(codes, uniques)`` with uniques decoded back to str (utf-8 is
    injective, so these are exactly the original distinct tokens in
    first-appearance order, matching pd.factorize's contract)."""
    import pandas as pd

    keys = np.empty(len(flat), dtype=object)
    keys[:] = [w.encode("utf-8") for w in flat]
    codes, uniq_b = pd.factorize(keys)
    uniq = np.empty(len(uniq_b), dtype=object)
    uniq[:] = [b.decode("utf-8") for b in uniq_b]
    return codes, uniq


def weighted_occurrence_hashes(toks) -> tuple[np.ndarray, np.ndarray]:
    """FxHash-u32 (as uint64) of every token occurrence's replicated
    shingle string ``"word k"`` (k = 1-based occurrence rank of the word
    within its row — the integer-weight replication reduction), computed
    whole-batch WITHOUT materializing the composed strings.

    Replaces the per-token Python ``Counter`` + f-string loop (r5
    verdict item 5) with three vectorized stages:

    1. occurrence ranks: factorize the flattened tokens once, key each
       occurrence by (row, word code), and one stable argsort yields
       every occurrence's 1-based rank within its (row, word) run —
       the same idiom as ``repetition_stats_batch``.
    2. prefix states: the FxHash fold of ``"word k"`` starts from
       ``len("word k") * K`` (= ``fx_add(0, len)``), which depends on
       the word AND the digit count of k — so fold ``word + ' '`` once
       per unique (word, digit-count) pair and gather per occurrence.
    3. digit fold: extend each occurrence's state with the decimal
       chars of its k, grouped by digit count (≤ log10(max tf) fully
       vectorized steps).

    Bit-identical to ``hash_strings_batch`` over the composed strings
    (pinned by tests); the composed-string form stays the SQL-oracle
    mirror.  Returns (hashes, offsets) with offsets of length
    ``len(toks)+1`` delimiting each row's occurrence segment."""
    n_rows = len(toks)
    lens = np.fromiter((len(ws) for ws in toks), dtype=np.int64,
                       count=n_rows)
    offs = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    total = int(offs[-1])
    if total == 0:
        return np.empty(0, dtype=np.uint64), offs
    flat = [w for ws in toks for w in ws]
    codes, uniq = factorize_tokens(flat)
    rows = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
    key = rows * np.int64(len(uniq)) + codes
    order = np.argsort(key, kind="stable")
    sk = key[order]
    new_run = np.empty(total, dtype=bool)
    new_run[0] = True
    np.not_equal(sk[1:], sk[:-1], out=new_run[1:])
    run_starts = np.flatnonzero(new_run)
    within = (np.arange(total, dtype=np.int64)
              - np.repeat(run_starts,
                          np.diff(np.append(run_starts, total))))
    k = np.empty(total, dtype=np.int64)
    k[order] = within + 1

    dlen = np.ones(total, dtype=np.int64)
    hi = 10
    max_k = int(k.max())
    while hi <= max_k:
        dlen[k >= hi] += 1
        hi *= 10
    max_d = int(dlen.max())

    pair_key = codes * np.int64(max_d + 1) + dlen
    pairs, pair_inv = np.unique(pair_key, return_inverse=True)
    p_code = pairs // (max_d + 1)
    p_d = pairs % (max_d + 1)
    w_ords, w_offs = flatten_texts([uniq[i] for i in p_code])
    wlens = w_offs[1:] - w_offs[:-1]
    state = (wlens + 1 + p_d).astype(np.uint64) * np.uint64(_K)
    max_w = int(wlens.max()) if wlens.shape[0] else 0
    starts = w_offs[:-1]
    for c in range(max_w):
        live = wlens > c
        state[live] = fx_add_np(state[live], w_ords[starts[live] + c])
    state = fx_add_np(state, np.uint64(32))          # the ' ' separator

    occ_state = state[pair_inv]
    for d in range(1, max_d + 1):
        sel = dlen == d
        if not sel.any():
            continue
        kk = k[sel]
        st = occ_state[sel]
        for pos in range(d - 1, -1, -1):
            digit = (kk // (10 ** pos)) % 10
            st = fx_add_np(st, digit.astype(np.uint64) + np.uint64(48))
        occ_state[sel] = st
    return occ_state & _MASK32, offs


def jaccard_pairs_batch(
    texts_a, texts_b, ngram_width: int
) -> np.ndarray:
    """Exact Jaccard for aligned (non-null) string pairs → float64 array.

    Set semantics per side (duplicates collapse), 0.0 when either side is
    empty (``shingleset.rs:50-57``)."""
    ha, oa = batch_window_hashes(*flatten_texts(texts_a), ngram_width)
    hb, ob = batch_window_hashes(*flatten_texts(texts_b), ngram_width)
    n = oa.shape[0] - 1
    # Row-tagged batch merge (same kernel shape as the similarity-join
    # verifier): the pair index in the high 32 bits keeps rows disjoint,
    # so ONE np.unique per side performs every row's set-dedup and ONE
    # intersect1d counts every row's overlap — no Python row loop.
    ua, ca = _rowtag_unique(ha, oa)
    ub, cb = _rowtag_unique(hb, ob)
    ni = sorted_intersect_counts(ua, ub, n)
    union = ca + cb - ni
    return np.where(union > 0, ni / np.maximum(union, 1), 0.0)


def sorted_intersect_counts(ka: np.ndarray, kb: np.ndarray,
                            n_rows: int) -> np.ndarray:
    """Per-row intersection sizes of two SORTED-UNIQUE row-tagged key
    arrays (row index in the high 32 bits).

    Each input is already sorted (np.unique output / concatenation of
    per-row sorted sets under increasing row tags), so the comparison
    sort inside ``np.intersect1d`` is wasted work: a single STABLE sort
    of the concatenation uses numpy's radix path for integers (O(n)
    passes instead of O(n log n) compares — measured 1.67× on the
    10k-pair verify batch), and a key appears at most once per side, so
    every adjacent duplicate in the merged array is exactly one
    cross-side intersection hit."""
    m = np.concatenate([ka, kb])
    if m.shape[0] == 0:
        return np.zeros(n_rows, dtype=np.int64)
    m.sort(kind="stable")
    dup = m[1:] == m[:-1]
    hits = m[1:][dup]
    shift = np.uint64(32) if m.dtype == np.uint64 else 32
    return np.bincount((hits >> shift).astype(np.int64), minlength=n_rows)


def segment_intersect_counts(va: np.ndarray, la: np.ndarray,
                             vb: np.ndarray, lb: np.ndarray) -> np.ndarray:
    """Per-row |A_i ∩ B_i| of two aligned batches of unique int32 sets,
    each given flat (values, per-row lengths): every value is tagged
    with its row index in the high 32 bits, so ONE
    ``sorted_intersect_counts`` merge counts every row's overlap."""
    rows = np.arange(la.shape[0], dtype=np.int64)
    ka = (np.repeat(rows, la) << 32) | (va.astype(np.int64) & 0xFFFFFFFF)
    kb = (np.repeat(rows, lb) << 32) | (vb.astype(np.int64) & 0xFFFFFFFF)
    return sorted_intersect_counts(ka, kb, la.shape[0])


_POP8 = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(
    axis=1).astype(np.uint8)


def bitmap_intersect_counts(bm_a: np.ndarray, bm_b: np.ndarray,
                            ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
    """Per-pair intersection sizes from packed set bitmaps: row i of the
    result is ``popcount(bm_a[ia[i]] & bm_b[ib[i]])``.

    Both matrices are (n_docs, W) uint64 over ONE shared value→bit
    mapping (``similarity_join._bitmap_pack``), so the AND keeps exactly
    the values present in both sets and the byte-LUT popcount counts
    them — integer-identical to the radix-merge
    ``sorted_intersect_counts`` (measured 35× on the sf0.1 flagship
    verify batch: the merged key sort was the per-batch hot spot)."""
    inter = (bm_a[ia] & bm_b[ib]).view(np.uint8)
    return _POP8[inter].sum(axis=1, dtype=np.int64)


def segment_sequential_sums(values: np.ndarray, starts: np.ndarray,
                            lens: np.ndarray) -> np.ndarray:
    """Per-segment SEQUENTIAL left fold ``((0.0 + v0) + v1) + ...`` —
    bit-identical to Spark's ``F.aggregate`` / DuckDB's ``list_reduce``
    IEEE summation order, which a plain ``np.add.reduceat``/``np.sum``
    would break (numpy uses pairwise summation; measured bit-divergent
    on mixed-magnitude inputs).

    Vectorized column-major, the same idiom as the all-pairs tile
    kernel: step k adds element k of every still-live segment, so each
    segment's accumulator sees its values strictly left-to-right while
    the work per step stays one numpy gather across segments.  Segments
    are processed longest-first so the live prefix only shrinks."""
    n = starts.shape[0]
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    order = np.argsort(-lens, kind="stable")
    s_starts = starts[order]
    s_lens = lens[order]
    acc = np.zeros(n, dtype=np.float64)
    active = int(np.count_nonzero(s_lens > 0))
    k = 0
    while active:
        acc[:active] += values[s_starts[:active] + k]
        k += 1
        while active and s_lens[active - 1] <= k:
            active -= 1
    out[order] = acc
    return out


# ASCII-whitespace tokenizer — the repo-wide word-token contract
# (``functions/lsh.py::word_shingle_set_col``: Spark ``split(text,
# '\\s+')`` with empties dropped; Java regex \s is exactly this ASCII
# class, and the DuckDB oracles use the same explicit class).
import re as _re

_WS_RE = _re.compile("[ \t\n\x0b\x0c\r]+")


def tokenize_words(texts) -> list[list[str]]:
    """Whitespace word tokens per text, empties dropped, None → []."""
    return [[w for w in _WS_RE.split(t) if w] if t else [] for t in texts]


def repetition_stats_batch(texts) -> tuple[np.ndarray, ...]:
    """Per-document repetition/diversity raw statistics for one batch:
    (n_words, max_word_count, n_trigrams, n_distinct_trigrams,
    entropy_term_sum).

    Replaces the interpreted higher-order-function frequency pass
    (``transform(array_sort(array_distinct(w)), dw -> size(filter(w,
    x -> x = dw)))`` — O(|distinct|·|tokens|) per row at interpreter
    speed) with O(W log W) whole-batch numpy: factorize tokens once,
    tag each with its row in the high 32 bits of an int64 key whose low
    bits are the token's LEXICOGRAPHIC rank, and one radix-friendly
    sort delivers every row's distinct counts in sorted-word order —
    the order the entropy fold is defined over (parity contract with
    the DuckDB oracle's ``list_sort(list_distinct(w))``).  Python str
    comparison is codepoint order = UTF-8 binary order, matching both
    Spark's ``array_sort`` and DuckDB's ``list_sort`` on strings.

    The entropy term sum ``Σ f·ln f`` uses ``segment_sequential_sums``
    so the IEEE fold order matches ``F.aggregate``/``list_reduce``
    exactly; divisions / ln(n) / rounding stay JVM-side in the caller
    so the final projection is shared with the oracle expression."""
    tokens = tokenize_words(texts)
    n_rows = len(tokens)
    lens = np.fromiter((len(w) for w in tokens), dtype=np.int64,
                       count=n_rows)
    max_f = np.zeros(n_rows, dtype=np.int64)
    n_tri = np.maximum(lens - 2, 0)
    tri_distinct = np.zeros(n_rows, dtype=np.int64)
    ent = np.zeros(n_rows, dtype=np.float64)
    flat = [w for ws in tokens for w in ws]
    if not flat:
        return lens, max_f, n_tri, tri_distinct, ent

    codes, uniques = factorize_tokens(flat)
    rank = np.empty(len(uniques), dtype=np.int64)
    rank[np.argsort(uniques, kind="stable")] = np.arange(
        len(uniques), dtype=np.int64)

    rows = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
    keys = (rows << 32) | rank[codes]
    keys.sort(kind="stable")
    boundary = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    starts = np.concatenate([np.zeros(1, dtype=np.int64), boundary])
    ends = np.concatenate([boundary,
                           np.array([keys.shape[0]], dtype=np.int64)])
    counts = ends - starts                       # per (row, word), word-sorted
    drows = (keys[starts] >> 32).astype(np.int64)
    rstarts = np.flatnonzero(
        np.concatenate([[True], drows[1:] != drows[:-1]]))
    seg_rows = drows[rstarts]
    max_f[seg_rows] = np.maximum.reduceat(counts, rstarts)
    seg_lens = np.diff(np.concatenate(
        [rstarts, np.array([counts.shape[0]], dtype=np.int64)]))
    cf = counts.astype(np.float64)
    ent[seg_rows] = segment_sequential_sums(cf * np.log(cf), rstarts,
                                            seg_lens)

    total_tri = int(n_tri.sum())
    if total_tri:
        tok_starts = np.zeros(n_rows, dtype=np.int64)
        np.cumsum(lens[:-1], out=tok_starts[1:])
        tri_offs = np.zeros(n_rows, dtype=np.int64)
        np.cumsum(n_tri[:-1], out=tri_offs[1:])
        within = (np.arange(total_tri, dtype=np.int64)
                  - np.repeat(tri_offs, n_tri))
        t0 = np.repeat(tok_starts, n_tri) + within
        # distinct (row, trigram) count: words contain no whitespace, so
        # the space-joined trigram string is injective in its code triple
        trows = np.repeat(np.arange(n_rows, dtype=np.int64), n_tri)
        c0, c1, c2 = codes[t0], codes[t0 + 1], codes[t0 + 2]
        order = np.lexsort((c2, c1, c0, trows))
        a0, a1, a2, ar = c0[order], c1[order], c2[order], trows[order]
        new = np.concatenate([[True], (ar[1:] != ar[:-1])
                              | (a0[1:] != a0[:-1])
                              | (a1[1:] != a1[:-1])
                              | (a2[1:] != a2[:-1])])
        tri_distinct = np.bincount(ar[new], minlength=n_rows)
    return lens, max_f, n_tri, tri_distinct, ent


def _rowtag_unique(
    hashes: np.ndarray, offsets: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row set-dedup of u32 hash segments in one pass.

    Returns (tagged_uniques, per_row_set_sizes): each u32 hash is tagged
    with its row index in the high 32 bits, so a single global
    ``np.unique`` collapses duplicates exactly per row."""
    n = offsets.shape[0] - 1
    lens = offsets[1:] - offsets[:-1]
    if hashes.shape[0] == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(n, dtype=np.int64)
    rows = np.repeat(np.arange(n, dtype=np.uint64), lens)
    uniq = np.unique((rows << np.uint64(32)) | hashes)
    counts = np.bincount((uniq >> np.uint64(32)).astype(np.int64),
                         minlength=n)
    return uniq, counts


def segment_unique_int32(h32: np.ndarray, offsets: np.ndarray
                         ) -> tuple[np.ndarray, np.ndarray]:
    """Per-row sorted-unique int32 sets in ONE global pass — the
    vectorized form of ``[np.unique(h32[offs[i]:offs[i+1]]) ...]``,
    returned flat as ``(values, bounds)``: row i's set is
    ``values[bounds[i]:bounds[i+1]]``.

    Each value is tagged with its row index in the high 32 bits after a
    sign-bias XOR (0x80000000), the standard order-isomorphism from
    signed int32 to uint32: ascending unsigned biased order within a row
    tag IS ascending signed int32 order, so one ``np.unique`` over the
    composite reproduces the per-row signed-view sort bit-exactly, and
    the XOR (an involution) restores the original bits."""
    n = offsets.shape[0] - 1
    if h32.shape[0] == 0:
        return np.empty(0, dtype=np.int32), np.zeros(n + 1, dtype=np.int64)
    lens = offsets[1:] - offsets[:-1]
    rows = np.repeat(np.arange(n, dtype=np.uint64), lens)
    biased = h32.view(np.uint32).astype(np.uint64) ^ np.uint64(0x80000000)
    uniq = np.unique((rows << np.uint64(32)) | biased)
    counts = np.bincount((uniq >> np.uint64(32)).astype(np.int64),
                         minlength=n)
    vals = ((uniq & _MASK32) ^ np.uint64(0x80000000)).astype(
        np.uint32).view(np.int32)
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=bounds[1:])
    return vals, bounds


def cdc_spans_batch(
    texts,
    *,
    window: int = 8,
    base: int = 1099511628211,
    divisor: int = 64,
) -> tuple[list, list]:
    """Content-defined chunk spans per text: windowed Rabin-Karp
    boundaries (LBFS-style; Muthitacharoen et al., SOSP'01).  Position
    ``p`` (1-based) ends a chunk iff the polynomial hash of the last
    ``window`` code points, ``sum_k code(c_{p-k}) * base^k  (mod 2^64)``,
    is divisible by ``divisor``; the final position always ends the tail
    chunk.  Deliberately NO min/max chunk clamps: those need sequential
    suppression state, while the bare windowed rule keeps every boundary
    a pure function of ``window`` characters — position-local, hence
    embarrassingly parallel AND shift-invariant (an insertion only
    perturbs chunking within ``window`` chars; the DuckDB oracle replays
    the identical HUGEINT arithmetic per position).

    Returns (starts, lens): per text, parallel lists of 1-based chunk
    start offsets and chunk lengths (empty for None/empty text).
    Code points come from UTF-32 (true Unicode code points, matching
    SQL ``ord``/codepoint semantics, not UTF-16 units or bytes).
    uint64 multiply-add wraps mod 2^64 exactly in numpy — integer
    modular arithmetic is order-independent, so the vectorized window
    dot product is bit-stable (no IEEE fold concerns here)."""
    from numpy.lib.stride_tricks import sliding_window_view

    w = int(window)
    powers = np.empty(w, dtype=np.uint64)
    acc = 1
    for k in range(w):
        # powers[j] multiplies window char j = oldest-first, i.e. the
        # char at p - (w-1-j); exponent w-1-j
        powers[w - 1 - k] = acc
        acc = (acc * int(base)) % (1 << 64)
    starts_out: list = []
    lens_out: list = []
    for t in texts:
        if not t:
            starts_out.append([])
            lens_out.append([])
            continue
        codes = np.frombuffer(t.encode("utf-32-le"), dtype="<u4")
        n = len(codes)
        cuts: list[int] = []
        if n >= w:
            hashes = sliding_window_view(
                codes.astype(np.uint64), w) @ powers
            # window starting at 0-based s covers chars for position
            # p = s + w (1-based); interior boundaries exclude p == n
            ps = np.nonzero(hashes % np.uint64(divisor) == 0)[0] + w
            cuts = [int(p) for p in ps if p < n]
        prev = 0
        starts: list[int] = []
        lens: list[int] = []
        for bnd in cuts + [n]:
            starts.append(prev + 1)
            lens.append(bnd - prev)
            prev = bnd
        starts_out.append(starts)
        lens_out.append(lens)
    return starts_out, lens_out


def minhash_text_minima_batch(
    texts, ngram_width: int, band_count: int, band_size: int, seed: int
) -> np.ndarray:
    """text → per-seed minima matrix (n, band_count·band_size) — the
    classic MinHash signature BEFORE the reference's band fold, for the
    estimator-calibration diagnostics."""
    ords, offsets = flatten_texts(texts)
    hashes, win_offsets = batch_window_hashes(ords, offsets, ngram_width)
    return seed_minima_from_window_hashes(
        hashes, win_offsets, band_count, band_size, seed)
