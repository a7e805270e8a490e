"""LSH similarity join — the reference README's documented usage pattern
(``README.md:133-163``) as a first-class distributed operator.

The reference pattern is:

    SELECT A.ind, B.id FROM A INNER JOIN B
      ON lsh_min(A.col, w, bands, size, seed)[k] = lsh_min(B.col, ...)[k]
      WHERE lsh_jaccard(A.col, B.col, w) > threshold
    UNION ... (seed rotated per block)

Spark-first redesign (SURVEY.md §2.4), shaped by what actually dominates at
scale (measured: shipping texts through the band join was 5-10× the cost of
everything else):

  1. each side's shingle set and its band hashes are built ONCE per row,
     in one Arrow pass (``shingle_set_bands_col``: the bands come from
     the set's own values), and persisted — every later stage reuses them;
  2. the blocking join shuffles ONLY (id, band_idx, band_hash) rows — a
     JVM explode of the cached bands, 16 bytes of payload per band, never
     the text;
  3. candidate pairs are de-duplicated as bare id pairs, then shingle sets
     are re-attached by two id-equi-joins (size-gated broadcast: the set
     table ships once per executor while its estimated bytes fit the cap,
     and the join falls back to shuffling by pair ids beyond it);
  4. the exact-Jaccard verification runs once per unique pair from the
     materialized sets.

The ``id_a < id_b`` predicate is applied inside the blocking join so mirror
candidates never materialize.  Band-bucket skew (huge near-dup clusters →
hot (band_idx, hash) keys) is handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.lsh import shingle_set_bands_col
from ..plans.cache import track
from ..sources import index as ix

# Exact-Jaccard verification (the reference's set ratio,
# ``shingleset.rs:50-57``: 0.0 when either side is empty) runs as ONE
# mapInArrow pass: a vectorized numpy batch-merge (values row-tagged in
# the high 32 bits, one radix-stable merge per Arrow batch — see
# ``_core.batch.segment_intersect_counts``) that filters and
# projects in the same pass.  Measured on the sf0.1 flagship workload
# (5.2M pairs): the batch merge is 3.6× faster than Catalyst
# ``array_intersect`` (per-row hash-set builds cost ~55 µs/pair), and the
# single pass avoids the double UDF evaluation Catalyst's predicate
# pushdown creates when a filter references a projected UDF column.
# Kernels read the id and set columns as Arrow offsets/values
# (``functions.lsh._from_arrow_list``) and emit Arrow record batches.


def _batch_jaccard(va, oa, vb, ob) -> "np.ndarray":
    """|A∩B|/|A∪B| for two aligned batches of sorted-unique int32 sets,
    each given as flat values + row offsets — one vectorized merge for
    the whole batch."""
    import numpy as np

    from .._core.batch import segment_intersect_counts

    la, lb = oa[1:] - oa[:-1], ob[1:] - ob[:-1]
    ni = segment_intersect_counts(va, la, vb, lb)
    union = la + lb - ni
    return np.where(union > 0, ni / np.maximum(union, 1), 0.0)


def _batch_containment(va, oa, vb, ob):
    """Per-row (|A∩B|/|A|, |A∩B|/|B|) for two aligned batches of
    sorted-unique int32 sets (flat values + row offsets) — the same
    one-merge-per-batch shape as ``_batch_jaccard``; raw IEEE divisions
    (no rounding here: numpy rounds half-even, the engines round
    half-up — rounding happens in-plan with ``F.round`` so both engines
    replay one op order)."""
    from .._core.batch import segment_intersect_counts

    la, lb = oa[1:] - oa[:-1], ob[1:] - ob[:-1]
    return _containments(segment_intersect_counts(va, la, vb, lb), la, lb)


def _containments(ni, la, lb):
    import numpy as np

    return (np.where(la > 0, ni / np.maximum(la, 1), 0.0),
            np.where(lb > 0, ni / np.maximum(lb, 1), 0.0))


def _collect_sets_broadcast(sets: DataFrame, id_alias: str, set_alias: str):
    """Flatten the cached (id, sorted-set) table into three numpy arrays —
    (sorted_ids, offsets, flat_values) — and broadcast them to the Python
    workers.  Same driver-side data volume as the JVM broadcast-hash join
    this replaces (that join also collects the build side to the driver),
    but the verify kernel can then gather sets BY ID: candidate pairs
    cross the Arrow boundary as bare (id_a, id_b) rows instead of
    carrying two ~KB set payloads each — on the sf0.1 flagship that cuts
    the UDF input from ~5 GB to ~35 MB.

    Collected with ``toArrow``: the set column's offsets and values
    buffers are reordered by id in one vectorized gather, with no
    per-row Python object.  A NULL set (NULL text) becomes an empty
    segment."""
    import numpy as np

    from ..functions.lsh import _from_arrow_list
    from ..plans.cache import track_broadcast

    tbl = sets.select(id_alias, set_alias).toArrow()
    ids = tbl.column(id_alias).to_numpy().astype(np.int64, copy=False)
    flat, offs, _ = _from_arrow_list(tbl.column(set_alias))
    order = np.argsort(ids, kind="stable")
    lens = (offs[1:] - offs[:-1])[order]
    offsets = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = _gather_segments(flat.astype(np.int32, copy=False), offs, order,
                            lens)
    return track_broadcast(sets.sparkSession.sparkContext.broadcast(
        (ids[order], offsets, flat)))


def _gather_segments(flat, offsets, idx, lens):
    """Vectorized multi-segment gather: concatenation of
    ``flat[offsets[i]:offsets[i]+lens_by_row[i]]`` for each i in idx."""
    import numpy as np

    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=flat.dtype)
    out_starts = np.cumsum(lens) - lens
    within = np.arange(total, dtype=np.int64) - np.repeat(out_starts, lens)
    return flat[np.repeat(offsets[idx], lens) + within]


# Bitmap fast path for the broadcast verify: when the CORPUS-WIDE value
# universe is small (templated/boilerplate-heavy corpora — the gate
# corpus' 31-word vocabulary yields ~400 distinct char-trigram hashes),
# each set packs into a few uint64 words over one shared value→bit
# mapping and the per-pair intersection count is AND + popcount instead
# of the row-tagged radix merge (measured 35× per 10k-pair batch at
# sf0.1).  Values appearing on only ONE side can never contribute to an
# intersection, so the shared universe is the CROSS-SIDE INTERSECTION of
# value sets; set SIZES still come from the unpacked offsets, so unions
# and both division operands are untouched — counts, and therefore every
# emitted float, are integer-identical to the merge path.  Size-gated:
# past the caps (natural-text universes at 100 TB) the radix merge
# stands.
_USE_BITMAP_VERIFY = True
_BITMAP_MAX_BYTES = 128 << 20  # packed-matrix budget across both sides
# per-pair cost model: popcount touches 8·W LUT bytes/pair, the merge
# sorts ~16·(|A|+|B|) key bytes/pair over more passes — require the
# bitmap row to be comfortably under the mean pair's element count
_BITMAP_WORDS_VS_PAIR = 0.5


# exact early reject: the distinct values of a bounded prefix of each
# side are a subset of that side's universe, so when the prefixes' common
# universe already overflows the word budget the full one does too — a
# natural-text shard (421k distinct values against a 30k budget) is then
# rejected without the full ``np.unique`` over millions of set values
_BITMAP_PREFIX = 1 << 17


def _bitmap_fits(n_words, n_docs, mean_pair_elems) -> bool:
    """The bitmap budget; monotone in ``n_words``, so a lower bound that
    fails it decides the full universe too."""
    return (n_words <= max(4, mean_pair_elems * _BITMAP_WORDS_VS_PAIR)
            and n_docs * n_words * 8 <= _BITMAP_MAX_BYTES)


def _common_universe(flat_a, flat_b, same: bool):
    """Sorted distinct values present on both sides (one side when the
    two are the same table)."""
    import numpy as np

    uni_a = np.unique(flat_a)
    return (uni_a if same
            else np.intersect1d(uni_a, np.unique(flat_b), assume_unique=True))


def _bitmap_plan(side_a, side_b, same: bool):
    """(bm_a, bm_b, n_words) packed bitmaps for two flat set tables
    ``(sorted_ids, offsets, flat)``, or None when the fast path does not
    pay (universe too wide, matrices too big, or an empty side); bm_b is
    None when both sides are the same table (the self-join ships one
    matrix)."""
    ids_a, off_a, flat_a = side_a
    ids_b, off_b, flat_b = side_b
    if len(ids_a) == 0 or len(ids_b) == 0:
        return None
    # driver-side guard: the unique/searchsorted passes below are one
    # O(n log n) driver scan — skip straight to the distributed merge
    # path when the collected tables are already huge
    if flat_a.shape[0] + flat_b.shape[0] > 64_000_000:
        return None
    n_docs = len(ids_a) + len(ids_b)
    mean_pair_elems = (flat_a.shape[0] / len(ids_a)
                       + flat_b.shape[0] / len(ids_b))
    p = _BITMAP_PREFIX
    if flat_a.shape[0] > p or (not same and flat_b.shape[0] > p):
        head = _common_universe(flat_a[:p], flat_b[:p], same)
        if not _bitmap_fits((head.shape[0] + 63) // 64, n_docs,
                            mean_pair_elems):
            return None
    common = _common_universe(flat_a, flat_b, same)
    n_words = (common.shape[0] + 63) // 64
    if not _bitmap_fits(n_words, n_docs, mean_pair_elems):
        return None
    bm_a = _bitmap_pack_side(flat_a, off_a, common, n_words)
    bm_b = None if same else _bitmap_pack_side(flat_b, off_b, common, n_words)
    return bm_a, bm_b, n_words


def _bitmap_pack(spark, bc_a, bc_b):
    """Build the shared-universe packed bitmaps for a broadcast-verify
    pair of set tables (``_bitmap_plan``) and broadcast them (tracked),
    or None when the fast path does not pay."""
    from ..plans.cache import track_broadcast

    plan = _bitmap_plan(bc_a.value, bc_b.value, bc_a is bc_b)
    if plan is None:
        return None
    return track_broadcast(spark.sparkContext.broadcast(plan))


def _bitmap_pack_side(flat, off, common, n_words):
    """Pack one side's sorted-unique int32 sets into (n_docs, n_words)
    uint64 bitmaps over the shared sorted ``common`` value universe;
    values outside it (single-side values — intersection-irrelevant) are
    dropped from the bitmap only, never from the size offsets.

    DEPENDS on each row's values ascending in the SIGNED int32 view
    (the repo-wide set storage contract sorts in the signed view): the
    grouped ``reduceat`` below ASSIGNS one OR-fold per run of equal word
    indices, so an out-of-order row would scatter a word's bits across
    non-adjacent runs and the later assignment would overwrite the
    earlier — silent undercount.  Asserted per call (one vectorized
    pass over the already-built key array, negligible vs the pack)."""
    import numpy as np

    n = off.shape[0] - 1
    if common.shape[0] == 0 or flat.shape[0] == 0:
        return np.zeros((n, n_words), dtype=np.uint64)
    rows = np.repeat(np.arange(n, dtype=np.int64), off[1:] - off[:-1])
    pos = np.searchsorted(common, flat)
    pos = np.minimum(pos, common.shape[0] - 1)
    ok = common[pos] == flat
    rows, pos = rows[ok], pos[ok].astype(np.int64)
    bm = np.zeros((n, n_words), dtype=np.uint64)
    # rows are nondecreasing and each row's codes ascend (sets are
    # sorted; searchsorted over the sorted universe preserves order),
    # so equal word indices are CONTIGUOUS — one bitwise_or.reduceat
    # over group starts replaces the ~20x-slower scattered
    # np.bitwise_or.at
    w = rows * n_words + (pos >> 6)
    bit = np.uint64(1) << (pos & 63).astype(np.uint64)
    if w.shape[0]:
        # the signed-view sort dependency, checked: (row, universe-pos)
        # must strictly ascend, else equal word indices would not be
        # contiguous and the grouped assignment below would undercount
        key = rows * np.int64(common.shape[0]) + pos
        if not bool(np.all(key[1:] > key[:-1])):
            raise AssertionError(
                "_bitmap_pack_side: set rows are not ascending in the "
                "signed int32 view (storage contract violated)")
        starts = np.flatnonzero(np.r_[True, w[1:] != w[:-1]])
        bm.reshape(-1)[w[starts]] = np.bitwise_or.reduceat(bit, starts)
    return bm


def _fanout_pairs(pairs: DataFrame) -> DataFrame:
    """Round-robin the bare-id candidate-pair frame back out to cluster
    parallelism before a CPU-heavy verify: the deduped pair frame is a
    few MB of longs, so AQE coalesces its upstream ENSURE_REQUIREMENTS
    exchange to ONE partition (coalescing is byte-based and blind to
    per-row CPU), and the verify kernel — or a Levenshtein join
    condition — then runs single-task (measured 272 s -> 18 s on the
    edit-distance 5x-replication point).  Must stay ROUND-ROBIN
    ``repartition(N)``: a hash repartition on the pair ids is elided as
    redundant with the dedup's own hashpartitioning, while an explicit
    REPARTITION_BY_NUM survives and is exempt from AQE coalescing."""
    target = pairs.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(target)


def _lookup_ids(ids, wanted):
    """searchsorted + membership mask over sorted broadcast ids:
    (index, found) pairs."""
    import numpy as np

    idx = np.searchsorted(ids, wanted)
    idx = np.minimum(idx, max(len(ids) - 1, 0))
    found = (ids[idx] == wanted) if len(ids) else np.zeros(
        len(wanted), dtype=bool)
    return idx, found


def _id_values(col):
    """An integer id column of a record batch as int64 numpy."""
    import numpy as np

    return col.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def _gathered_counts(side_a, side_b, ia, ib, la, lb, bm_a, bm_b):
    """|A∩B| per (ia, ib) row pair of two flat broadcast set tables:
    AND + popcount over the packed bitmaps when present, else the
    row-tagged merge over the sets gathered by index."""
    from .._core.batch import bitmap_intersect_counts, segment_intersect_counts

    if bm_a is not None:
        return bitmap_intersect_counts(bm_a, bm_b, ia, ib)
    _, off_a, flat_a = side_a
    _, off_b, flat_b = side_b
    return segment_intersect_counts(
        _gather_segments(flat_a, off_a, ia, la), la,
        _gather_segments(flat_b, off_b, ib, lb), lb)


def _bitmaps(bc_bm):
    """(bm_a, bm_b) from a tracked bitmap broadcast, or (None, None)."""
    if bc_bm is None:
        return None, None
    bm_a, bm_b, _ = bc_bm.value
    return bm_a, (bm_a if bm_b is None else bm_b)  # self-join: one matrix


def _with_columns(rb, sel, names, extra):
    """Rows ``sel`` of the record batch's leading columns, plus ``extra``
    float columns — the kernels' output batch."""
    import pyarrow as pa

    take = pa.array(sel)
    cols = [rb.column(i).take(take) for i in range(len(names) - len(extra))]
    return pa.RecordBatch.from_arrays(
        cols + [pa.array(x) for x in extra], names=names)


def _verify_pairs_from_broadcast(pairs: DataFrame, id_a: str, id_b: str,
                                 bc_a, bc_b, threshold: float,
                                 out_sim: str) -> DataFrame:
    """Exact-Jaccard verification over BARE id pairs: shingle sets come
    from the broadcast flat tables (``_collect_sets_broadcast``), the
    size-ratio prune and the radix-stable merge both run inside the
    kernel.  Bit-identical results to the attach-join path (same merge,
    same prune inequality) with none of its per-pair set shipping —
    including its join semantics: a pair id absent from a broadcast
    table is DROPPED (an inner join would not have produced the row),
    not silently matched to the nearest id."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    bc_bm = (_bitmap_pack(pairs.sparkSession, bc_a, bc_b)
             if _USE_BITMAP_VERIFY else None)
    src = _fanout_pairs(pairs.select(id_a, id_b))
    schema = StructType([
        src.schema[id_a], src.schema[id_b],
        StructField(out_sim, DoubleType(), True),
    ])

    def verify(batches):
        side_a, side_b = bc_a.value, bc_b.value
        bm_a, bm_b = _bitmaps(bc_bm)
        for rb in batches:
            if not rb.num_rows:
                continue
            ia, fa = _lookup_ids(side_a[0], _id_values(rb.column(0)))
            ib, fb = _lookup_ids(side_b[0], _id_values(rb.column(1)))
            la = side_a[1][ia + 1] - side_a[1][ia]
            lb = side_b[1][ib + 1] - side_b[1][ib]
            # exact size-ratio prune: jaccard > t needs
            # min(|A|,|B|) > t*max(|A|,|B|) — zero false negatives;
            # ids missing from the broadcast behave like the join path
            # (the pair simply does not survive)
            ok = (fa & fb
                  & (np.minimum(la, lb) > threshold * np.maximum(la, lb)))
            if not ok.any():
                continue
            sel = np.flatnonzero(ok)
            ia, ib, la, lb = ia[sel], ib[sel], la[sel], lb[sel]
            ni = _gathered_counts(side_a, side_b, ia, ib, la, lb, bm_a, bm_b)
            union = la + lb - ni
            j = np.where(union > 0, ni / np.maximum(union, 1), 0.0)
            keep = j > threshold
            yield _with_columns(rb, sel[keep], [id_a, id_b, out_sim],
                                [j[keep]])

    return src.mapInArrow(verify, schema=schema)


def _verify_pairs(joined: DataFrame, id_a: str, id_b: str, set_a: str,
                  set_b: str, threshold: float, out_sim: str) -> DataFrame:
    """One-pass exact verification: (ids, sets) rows → surviving
    (id_a, id_b, jaccard > threshold) rows."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.lsh import _from_arrow_list

    src = joined.select(id_a, id_b, set_a, set_b)
    schema = StructType([
        src.schema[id_a], src.schema[id_b],
        StructField(out_sim, DoubleType(), True),
    ])

    def verify(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            va, oa, _ = _from_arrow_list(rb.column(2))
            vb, ob, _ = _from_arrow_list(rb.column(3))
            j = _batch_jaccard(va, oa, vb, ob)
            keep = np.flatnonzero(j > threshold)
            yield _with_columns(rb, keep, [id_a, id_b, out_sim], [j[keep]])

    return src.mapInArrow(verify, schema=schema)


# verification joins re-attach the ~KB shingle-set payload to every
# surviving candidate pair; broadcasting the (id, set) table keeps the
# pair rows in place and ships each set ONCE per executor instead of once
# per pair (measured at sf0.1: 4.5-6 s vs 6.8-10.7 s shuffle on 5.4M
# pairs).  UDF-derived frames carry no size stats, so pre-AQE Spark can
# never choose this on its own — the gate below estimates the broadcast
# size from the cached sets (one cheap agg that also materializes the
# cache every later stage reuses) and falls back to the shuffle join the
# moment the estimate exceeds the cap, so a billion-doc corpus never
# attempts a full-table broadcast.
_AUTO_BROADCAST_CAP_BYTES = 64 << 20


def _should_broadcast(sets: DataFrame, set_col: str,
                      flag: "bool | None") -> bool:
    """Resolve the size gate ONCE per (cached) sets table.

    ``flag``: True forces broadcast, False forces the shuffle join, None
    (default) estimates bytes as rows × (4·avg|set| + 48) from the cached
    table and broadcasts only under ``_AUTO_BROADCAST_CAP_BYTES``.

    Catalyst's own ``Statistics.sizeInBytes`` is deliberately NOT used
    here: for UDF-derived projections it is propagated from the file-scan
    estimate of the *input* columns (the text), which bears no relation
    to the shingle-set payload actually broadcast — the one cheap agg over
    the already-cached sets is the accurate signal."""
    if flag is not None:
        return flag
    row = sets.agg(F.count(F.lit(1)).alias("n"),
                   F.avg(F.size(set_col)).alias("sz")).first()
    est = row["n"] * (4.0 * (row["sz"] or 0.0) + 48.0)
    return est <= _AUTO_BROADCAST_CAP_BYTES


def _integer_ids(sets: DataFrame, id_alias: str) -> bool:
    """The broadcast-verify kernel gathers sets by id through int64 numpy
    arrays; non-integer id columns (strings, decimals) must take the
    attach-join path, which joins on the Spark type directly."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    return isinstance(sets.schema[id_alias].dataType,
                      (ByteType, ShortType, IntegerType, LongType))


def _maybe_broadcast(sets: DataFrame, set_col: str,
                     flag: "bool | None") -> DataFrame:
    """Broadcast the (id, set) table while it fits the cap; past the cap,
    hint shuffle-hash for the re-attach join — the pairs side is orders of
    magnitude larger than the sets side, so building a hash map on sets
    beats sort-merge's full sort of the pair stream (AQE may still
    override if a partition would not fit)."""
    if _should_broadcast(sets, set_col, flag):
        return F.broadcast(sets)
    return sets.hint("shuffle_hash")


def _with_sets(df: DataFrame, id_col: str, text_col: str, ngram_width: int,
               id_alias: str, set_alias: str, band_count: int,
               band_size: int, seed, shingle: str = "char") -> DataFrame:
    """(id, shingle set, ``__bands``) rows: ONE Arrow pass builds each
    row's set and, from the same sorted-unique values, its band hashes
    (``shingle_set_bands_col``).  Callers persist the frame before
    :func:`_band_blocks` reads it, so blocking re-reads no set and runs
    no Python.

    ``seed`` may be a single int or a sequence of ints — the latter is
    the reference README's seed-rotation recall booster
    (``README.md:146-148``: UNION the band join once per rotated seed).
    Rotations are fused into the band index (``band_idx +
    rot*band_count``) instead of a separate key column, so the blocking
    join still shuffles two ints per row and combined recall is
    1-∏(1-r_i) with zero payload overhead."""
    seeds = (seed,) if isinstance(seed, int) else tuple(seed)
    fused = shingle_set_bands_col(F.col("__text"), shingle, ngram_width,
                                  band_count, band_size, seeds)
    base = df.select(F.col(id_col).alias(id_alias),
                     F.col(text_col).alias("__text"))
    # single-file inputs arrive as one partition; spread the UDF pass over
    # the cluster (no-op direction at real scale: we only ever increase)
    target = df.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < target:
        base = base.repartition(target)
    return base.select(id_alias, fused.alias("__sb")).select(
        id_alias, F.col("__sb.set").alias(set_alias),
        F.col("__sb.bands").alias("__bands"))


def _band_blocks(sets: DataFrame, id_alias: str) -> DataFrame:
    """Exploded (id, band_idx, band_hash) blocking keys — a JVM
    ``posexplode`` of the ``__bands`` column of a PERSISTED
    :func:`_with_sets` frame.  The cache is what keeps this Python-free:
    ``InferFiltersFromGenerate`` adds a ``size(__bands) > 0`` filter for
    an attribute input, and over an uncached frame that filter would
    re-inline the set+band UDF and evaluate it a second time (pinned by
    ``tests/test_plans.py``).  Empty or NULL band arrays generate no
    rows either way."""
    return sets.select(
        id_alias, F.posexplode("__bands").alias("band_idx", "band_hash"))


def lsh_similarity_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str,
    right_text: str,
    *,
    left_id: str,
    right_id: str,
    ngram_width: int = 2,
    band_count: int = 4,
    band_size: int = 3,
    seed: int = 123,
    threshold: float = 0.8,
    keep_similarity: bool = True,
    broadcast_sets: "bool | None" = None,
    shingle: str = "char",
) -> DataFrame:
    """Approximate A⨝B similarity join: pairs whose banded MinHash collides
    in ≥1 band AND whose exact Jaccard exceeds ``threshold``.

    ``broadcast_sets=None`` (default) size-gates a broadcast of each
    side's (id, shingle-set) table independently — see ``_maybe_broadcast``.

    ``shingle``: ``"char"`` / ``"word"`` / ``"weighted"`` (same contract
    as ``lsh_self_dedup_pairs`` — with ``"weighted"``, ``threshold`` is
    a weighted Jaccard).

    Returns (left_id, right_id[, jaccard]).
    """
    l_sets = _with_sets(left, left_id, left_text, ngram_width,
                        "__lid", "__lset", band_count, band_size, seed,
                        shingle=shingle)
    r_sets = _with_sets(right, right_id, right_text, ngram_width,
                        "__rid", "__rset", band_count, band_size, seed,
                        shingle=shingle)
    track(l_sets.persist(StorageLevel.MEMORY_AND_DISK))
    track(r_sets.persist(StorageLevel.MEMORY_AND_DISK))

    l_blocks = _band_blocks(l_sets, "__lid")
    r_blocks = _band_blocks(r_sets, "__rid")

    pairs = (
        l_blocks.join(r_blocks, on=["band_idx", "band_hash"], how="inner")
        .select("__lid", "__rid")
        .dropDuplicates(["__lid", "__rid"])
    )
    if (_integer_ids(l_sets, "__lid") and _integer_ids(r_sets, "__rid")
            and _should_broadcast(l_sets, "__lset", broadcast_sets)
            and _should_broadcast(r_sets, "__rset", broadcast_sets)):
        bc_l = _collect_sets_broadcast(l_sets, "__lid", "__lset")
        bc_r = _collect_sets_broadcast(r_sets, "__rid", "__rset")
        verified = _verify_pairs_from_broadcast(
            pairs, "__lid", "__rid", bc_l, bc_r, threshold, "__jaccard")
    else:
        cand = (
            pairs.join(_maybe_broadcast(l_sets, "__lset", broadcast_sets),
                       on="__lid")
            .join(_maybe_broadcast(r_sets, "__rset", broadcast_sets),
                  on="__rid")
            # exact pruning: jaccard > t requires
            # min(|A|,|B|) > t*max(|A|,|B|) (|A∩B| <= min, |A∪B| >= max) —
            # skips the intersect for pairs the size ratio already rules
            # out, with zero false negatives
            .where(
                F.least(F.size("__lset"), F.size("__rset"))
                > threshold * F.greatest(F.size("__lset"), F.size("__rset")))
        )
        verified = _verify_pairs(cand, "__lid", "__rid", "__lset", "__rset",
                                 threshold, "__jaccard")
    out_l = left_id if left_id != right_id else f"{left_id}_left"
    out_r = right_id if left_id != right_id else f"{right_id}_right"
    cols = [F.col("__lid").alias(out_l), F.col("__rid").alias(out_r)]
    if keep_similarity:
        cols.append(F.col("__jaccard").alias("jaccard"))
    return verified.select(*cols)


def lsh_self_dedup_pairs(
    df: DataFrame,
    text_col: str,
    *,
    id_col: str,
    ngram_width: int = 2,
    band_count: int = 4,
    band_size: int = 3,
    seed: int = 123,
    threshold: float = 0.8,
    broadcast_sets: "bool | None" = None,
    shingle: str = "char",
    return_sets: bool = False,
) -> DataFrame:
    """Near-duplicate pairs within one table (id_a < id_b, no mirrors).

    ``return_sets=True`` returns ``(pairs, sets)`` where ``sets`` is the
    persisted (``__id``, ``__set``) shingle-set frame the miner built —
    lets a caller (the calibration estimator) reuse the cached sets
    instead of re-shingling the same corpus.

    ``broadcast_sets`` controls the verification joins' build side: None
    (default) size-gates a broadcast of the (id, shingle-set) table —
    broadcast only while the estimated payload fits the cap, shuffle by
    pair ids beyond it (the 100 TB path) — see ``_maybe_broadcast``.

    ``shingle``: ``"char"`` (char n-grams), ``"word"`` (word n-grams —
    ``ngram_width`` counts words), or ``"weighted"`` (tf-weighted
    replicated occurrence shingles — ``threshold`` is then a WEIGHTED
    Jaccard Σmin(tf)/Σmax(tf); ``ngram_width`` unused).

    Returns (id_a, id_b, jaccard)."""
    sets = _with_sets(df, id_col, text_col, ngram_width, "__id", "__set",
                      band_count, band_size, seed, shingle=shingle)
    track(sets.persist(StorageLevel.MEMORY_AND_DISK))
    broadcast_sets = (_integer_ids(sets, "__id")
                      and _should_broadcast(sets, "__set", broadcast_sets))
    blocks = _band_blocks(sets, "__id")

    a = blocks.select(F.col("__id").alias("id_a"), "band_idx", "band_hash")
    b = blocks.select(F.col("__id").alias("id_b"), "band_idx", "band_hash")
    pairs = (
        a.join(b, on=["band_idx", "band_hash"], how="inner")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if broadcast_sets:
        # under the cap: ship the sets ONCE to each worker and verify
        # bare id pairs in the kernel (prune + merge inside) — no attach
        # joins, no per-pair set payload through Arrow
        bc = _collect_sets_broadcast(sets, "__id", "__set")
        verified = _verify_pairs_from_broadcast(
            pairs, "id_a", "id_b", bc, bc, threshold, "jaccard")
        return (verified, sets) if return_sets else verified
    sets_a = sets.select(F.col("__id").alias("id_a"), F.col("__set").alias("__set_a"))
    sets_b = sets.select(F.col("__id").alias("id_b"), F.col("__set").alias("__set_b"))
    # past the broadcast cap: hash-build on the (smaller) sets side
    # instead of sort-merge sorting the much larger pair stream
    sets_a = sets_a.hint("shuffle_hash")
    sets_b = sets_b.hint("shuffle_hash")
    cand = (
        pairs.join(sets_a, on="id_a")
        .join(sets_b, on="id_b")
        # exact size-ratio pruning (see lsh_similarity_join)
        .where(
            F.least(F.size("__set_a"), F.size("__set_b"))
            > threshold * F.greatest(F.size("__set_a"), F.size("__set_b")))
    )
    verified = _verify_pairs(cand, "id_a", "id_b", "__set_a", "__set_b",
                             threshold, "jaccard")
    return (verified, sets) if return_sets else verified


def lsh_containment_pairs(
    df: DataFrame,
    text_col: str,
    *,
    id_col: str,
    ngram_width: int = 3,
    band_count: int = 6,
    band_size: int = 6,
    seed: int = 123,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric shingle-containment pairs — the doc-in-doc signal
    Jaccard misses (a short quote fully inside a long document has high
    containment but low Jaccard): LSH band candidates verified by
    ``cont_a_in_b = |A∩B|/|A|`` and ``cont_b_in_a = |A∩B|/|B|``, keeping
    pairs where ``greatest(cont_a_in_b, cont_b_in_a) > threshold``
    (strict).  Returns (id_a, id_b, cont_a_in_b, cont_b_in_a), 6dp.

    Honest recall caveat, documented for 100 TB use: the minhash bands
    approximate JACCARD, so a tiny doc inside a huge one (high
    containment, low Jaccard) can miss the blocking stage — containment
    recall improves with looser banding, and exhaustive containment
    needs a dedicated (e.g. prefix-hash) index.  No size-ratio prune
    exists for containment (min-side containment can be 1.0 at ANY size
    ratio), so the verify runs on every band candidate — ids only
    through the blocking join, sets re-attach by id (the contract).
    Rounding runs in-plan (``F.round`` = half-up = DuckDB round); the
    kernel emits raw IEEE divisions."""
    sets = _with_sets(df, id_col, text_col, ngram_width, "__id", "__set",
                      band_count, band_size, seed)
    track(sets.persist(StorageLevel.MEMORY_AND_DISK))
    blocks = _band_blocks(sets, "__id")
    a = blocks.select(F.col("__id").alias("id_a"), "band_idx", "band_hash")
    b = blocks.select(F.col("__id").alias("id_b"), "band_idx", "band_hash")
    pairs = (
        a.join(b, on=["band_idx", "band_hash"], how="inner")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if _integer_ids(sets, "__id") and _should_broadcast(
            sets, "__set", None):
        # under the cap: bare id pairs through Arrow, sets gathered by
        # id inside the kernel from the tracked broadcast (the
        # pair-verification contract; no size prune exists for
        # containment, so every candidate is merged)
        bc = _collect_sets_broadcast(sets, "__id", "__set")
        raw = _containment_from_broadcast(pairs, bc)
    else:
        sets_a = sets.select(F.col("__id").alias("id_a"),
                             F.col("__set").alias("__set_a"))
        sets_b = sets.select(F.col("__id").alias("id_b"),
                             F.col("__set").alias("__set_b"))
        joined = (pairs.join(sets_a.hint("shuffle_hash"), on="id_a")
                  .join(sets_b.hint("shuffle_hash"), on="id_b"))
        raw = _containment_from_attached(joined)
    return (
        raw.select(
            "id_a", "id_b",
            F.round("__ca", 6).alias("cont_a_in_b"),
            F.round("__cb", 6).alias("cont_b_in_a"),
        )
        .where(F.greatest("cont_a_in_b", "cont_b_in_a")
               > F.lit(float(threshold)))
    )


def _containment_schema(src):
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType([
        src.schema["id_a"], src.schema["id_b"],
        StructField("__ca", DoubleType(), True),
        StructField("__cb", DoubleType(), True),
    ])


def _containment_from_attached(joined: DataFrame) -> DataFrame:
    """(ids, sets) rows → raw (id_a, id_b, __ca, __cb) — the
    past-the-cap shuffle path."""
    import numpy as np

    from ..functions.lsh import _from_arrow_list

    src = joined.select("id_a", "id_b", "__set_a", "__set_b")

    def verify(batches):
        for rb in batches:
            if not rb.num_rows:
                continue
            va, oa, _ = _from_arrow_list(rb.column(2))
            vb, ob, _ = _from_arrow_list(rb.column(3))
            ca, cb = _batch_containment(va, oa, vb, ob)
            yield _with_columns(rb, np.arange(rb.num_rows),
                                ["id_a", "id_b", "__ca", "__cb"], [ca, cb])

    return src.mapInArrow(
        verify, schema=_containment_schema(src.select("id_a", "id_b")))


def _containment_from_broadcast(pairs: DataFrame, bc) -> DataFrame:
    """Bare id pairs → raw containments, sets gathered by id from the
    flat broadcast (same storage contract and lookup semantics as
    ``_verify_pairs_from_broadcast``: an id absent from the broadcast
    drops the pair, mirroring the inner attach-join)."""
    import numpy as np

    bc_bm = (_bitmap_pack(pairs.sparkSession, bc, bc)
             if _USE_BITMAP_VERIFY else None)
    src = _fanout_pairs(pairs.select("id_a", "id_b"))
    schema = _containment_schema(src)

    def verify(batches):
        side = bc.value
        ids, off, _ = side
        bm_a, bm_b = _bitmaps(bc_bm)
        for rb in batches:
            if not rb.num_rows:
                continue
            ia, fa = _lookup_ids(ids, _id_values(rb.column(0)))
            ib, fb = _lookup_ids(ids, _id_values(rb.column(1)))
            ok = fa & fb
            if not ok.any():
                continue
            sel = np.flatnonzero(ok)
            ia, ib = ia[sel], ib[sel]
            la = off[ia + 1] - off[ia]
            lb = off[ib + 1] - off[ib]
            ni = _gathered_counts(side, side, ia, ib, la, lb, bm_a, bm_b)
            yield _with_columns(rb, sel, ["id_a", "id_b", "__ca", "__cb"],
                                list(_containments(ni, la, lb)))

    return src.mapInArrow(verify, schema=schema)


def lsh_edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    *,
    id_col: str,
    ngram_width: int = 3,
    band_count: int = 2,
    band_size: int = 14,
    seed: int = 123,
    threshold: float = 0.4,
) -> DataFrame:
    """Edit-distance-verified near-duplicate pairs: LSH band-collision
    candidates (the same char-shingle minhash blocking as the Jaccard
    family, typically parameterized TIGHTER — candidate count bounds the
    O(len_a·len_b) Levenshtein verify), then
    ``edit_sim = round(1 − lev/greatest(len_a, len_b), 6) > threshold``
    (strict).  Returns (id_a, id_b, edit_sim), id_a < id_b.

    100 TB shape: the blocking join ships (band_idx, band_hash, id)
    ints only; texts re-attach BY ID to the deduplicated pair list (the
    ids-only contract), so the quadratic-per-bucket band join never
    carries payloads and the expensive verify runs once per unique
    candidate.  Candidate volume BOUNDS the O(len_a·len_b) DP verify —
    parameterize the banding tighter than the Jaccard family's.  An
    exact length-gap prefilter (lev >= |len_a − len_b|, so sim can't
    reach the threshold when the gap alone exceeds (1−t)·maxlen; 1e-6
    slack covers the 6dp round-up) drops hopeless pairs BEFORE the DP —
    output provably unchanged, so the oracle omits it.  Levenshtein
    itself is JVM whole-stage-codegen (``F.levenshtein``) — no Python
    in the hot path.  The DP is CAPPED per row (round-10 verdict item
    3): Spark >=3.5's three-arg ``levenshtein(a, b, bound)`` runs in
    O(len·bound) instead of O(len_a·len_b) and returns −1 past the
    bound; the output filter ``edit_sim > t`` implies
    lev < (1−t+5e-7)·maxlen (the 5e-7 covers the 6dp half-up round),
    so ``bound = floor((1−t+1e-6)·maxlen)`` over-admits and a −1
    (nullif → NULL sim → filtered) is provably below-threshold — output
    bit-identical, oracle unchanged (it already omits the prefilter by
    the same argument).  The deduped bare-id pair frame explicitly
    re-fans to cluster parallelism before the text joins: AQE coalesces
    the few-MB pair exchange to one partition, which would otherwise
    serialize the whole DP stage into a single task."""
    sets = _with_sets(df, id_col, text_col, ngram_width, "__id", "__set",
                      band_count, band_size, seed)
    # the verify re-attaches texts, never sets: cache the bands alone
    bands = track(sets.select("__id", "__bands")
                  .persist(StorageLevel.MEMORY_AND_DISK))
    blocks = _band_blocks(bands, "__id")
    a = blocks.select(F.col("__id").alias("id_a"), "band_idx", "band_hash")
    b = blocks.select(F.col("__id").alias("id_b"), "band_idx", "band_hash")
    pairs = (
        a.join(b, on=["band_idx", "band_hash"], how="inner")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # fan the bare-id pairs back out before the CPU-heavy DP stage (the
    # broadcast text joins inherit the pair frame's layout — see
    # _fanout_pairs for the AQE-coalescing failure mode this prevents)
    pairs = _fanout_pairs(pairs)
    ta = df.select(F.col(id_col).alias("id_a"),
                   F.col(text_col).alias("__ta"))
    tb = df.select(F.col(id_col).alias("id_b"),
                   F.col(text_col).alias("__tb"))
    joined = pairs.join(ta, on="id_a").join(tb, on="id_b")
    gl = F.greatest(F.length("__ta"), F.length("__tb"))
    gap = gl - F.least(F.length("__ta"), F.length("__tb"))
    joined = joined.where(
        gap.cast("double")
        < F.lit(1.0 - float(threshold) + 1e-6) * gl.cast("double"))
    # gl > 0 whenever a candidate exists (shingling needs ngram_width
    # chars); the guard keeps ANSI mode safe on degenerate inputs — CASE
    # twin in the oracle.  __bound >= gap >= 0 on every prefilter
    # survivor, so the capped DP's threshold arg is always valid.
    joined = joined.withColumn(
        "__bound",
        F.floor(F.lit(1.0 - float(threshold) + 1e-6)
                * gl.cast("double")).cast("int"))
    # nullif keeps the DP referenced ONCE in the expression tree (the
    # filter gets pushed into the broadcast join's condition, where a
    # guard + value double-reference would run the DP twice per pair):
    # -1 (past bound) -> NULL -> NULL sim -> filtered.
    lev = F.nullif(
        F.call_function(
            "levenshtein", F.col("__ta"), F.col("__tb"), F.col("__bound")),
        F.lit(-1))
    sim = F.when(
        gl != 0,
        F.round(
            F.lit(1.0) - lev.cast("double") / gl.cast("double"),
            6,
        ),
    )
    return (
        joined.select("id_a", "id_b", sim.alias("edit_sim"))
        .where(F.col("edit_sim") > F.lit(float(threshold)))
    )


def lsh_dedup_keep_first(
    df: DataFrame,
    text_col: str,
    *,
    id_col: str,
    ngram_width: int = 3,
    band_count: int = 8,
    band_size: int = 2,
    seed: int = 123,
    threshold: float = 0.8,
    broadcast_sets: "bool | None" = None,
    shingle: str = "char",
) -> DataFrame:
    """Near-dedup retention set: drop every row that is a near-duplicate of
    a lower-id row (single-linkage via verified pairs, one iteration —
    the standard MinHash-dedup policy for training corpora).

    ``shingle``: ``"char"`` / ``"word"`` / ``"weighted"`` — passed
    through to the pair stage, so e.g. tf-weighted keep-first dedup is
    ``shingle="weighted"`` with a weighted-Jaccard ``threshold``.

    Returns the surviving rows of ``df``."""
    pairs = lsh_self_dedup_pairs(
        df, text_col, id_col=id_col, ngram_width=ngram_width,
        band_count=band_count, band_size=band_size, seed=seed,
        threshold=threshold, broadcast_sets=broadcast_sets,
        shingle=shingle)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


def lsh_dedup_keep_longest(
    df: DataFrame,
    text_col: str,
    *,
    id_col: str,
    ngram_width: int = 3,
    band_count: int = 6,
    band_size: int = 6,
    seed: int = 123,
    max_iter: int = 12,
    shingle: str = "char",
) -> DataFrame:
    """Quality-aware cluster retention: every near-dup component keeps
    its LONGEST document (ties on lowest id) — the policy real pipelines
    prefer over keep-first when duplicates differ in completeness (a
    full article vs its truncated syndication copy).  Built on the
    pair-free cluster path, so it scales like ``lsh_dedup_clusters``:
    the winner per component is one ``max(struct(len, -id))``
    hash-aggregate, never a pair join or a window over an unbounded
    partition.

    Returns the kept rows as (id, cluster_id, n_chars)."""
    clusters = lsh_dedup_clusters(
        df, text_col, id_col=id_col, ngram_width=ngram_width,
        band_count=band_count, band_size=band_size, seed=seed,
        max_iter=max_iter, shingle=shingle)
    lens = df.select(F.col(id_col), F.length(text_col).alias("__len"))
    return (
        clusters.join(lens, on=id_col)
        .groupBy("cluster_id")
        .agg(F.max(F.struct(F.col("__len"),
                            (-F.col(id_col)).alias("__nid"))).alias("w"))
        .select(
            (-F.col("w.__nid")).alias(id_col),
            "cluster_id",
            F.col("w.__len").alias("n_chars"),
        )
    )


def lsh_dedup_clusters(
    df: DataFrame,
    text_col: str,
    *,
    id_col: str,
    ngram_width: int = 3,
    band_count: int = 6,
    band_size: int = 6,
    seed: int = 123,
    max_iter: int = 12,
    shingle: str = "char",
) -> DataFrame:
    """Cluster-representative near-dedup WITHOUT pair materialization — the
    100 TB path.  ``shingle``: ``"char"`` / ``"word"`` / ``"weighted"``
    (same contract as ``lsh_self_dedup_pairs``).

    The verified-pairs operators are output-bound: a cluster of m
    near-identical documents contains m²/2 pairs (measured: replicating
    the corpus 20× stalls on within-cluster pairs).  This operator instead
    runs connected components over the doc↔band-bucket bipartite graph by
    alternating min-label propagation:

        bucket_label = min(label of member docs)
        doc_label    = min(bucket_label of its buckets)

    Every iteration is two hash-aggregations bounded by rows × band_count —
    never a pair join.  Convergence in O(cluster diameter) rounds;
    iteration stops early at the fixed point, and ``max_iter`` is a
    safety cap sized ABOVE any diameter seen in practice (measured at
    sf0.1: residual changes 4162 → 569 → 73 → 9 → 2 → 0, i.e. ~7 rounds —
    a cap that bites returns silently-unconverged labels, which would
    split clusters, so the early exit is the intended terminator).

    Semantics: single-linkage over *band-collision* edges (no exact-Jaccard
    verification) — the standard trade for corpus-scale dedup; tune
    ``band_size`` up for precision (see ``operators.banding.tune_bands``).

    Returns (id, cluster_id, is_representative).
    """
    from .cc import min_label_components

    sets = _with_sets(df, id_col, text_col, ngram_width, "__id", "__set",
                      band_count, band_size, seed, shingle=shingle)
    # materialize the bands once (sets are never verified here) —
    # everything downstream (ids, bucket sizes, edges, every iteration)
    # re-explodes them JVM-side without re-running the hashing UDF.  The
    # iteration itself is the shared pair-free CC core
    # (``operators.cc.min_label_components``, factored verbatim from here
    # in round 6 so the Hamming-block image path runs the identical
    # propagation); the measured rationale comments live with the code.
    bands = track(sets.select("__id", "__bands")
                  .persist(StorageLevel.MEMORY_AND_DISK))
    labels = min_label_components(_band_blocks(bands, "__id"),
                                  max_iter=max_iter)
    return labels.select(
        F.col("__id").alias(id_col),
        F.col("__label").alias("cluster_id"),
        (F.col("__id") == F.col("__label")).alias("is_representative"),
    )


def lsh_index_stats(spark, table_name: str) -> DataFrame:
    """Per-band bucket statistics of a persisted LSH index (LIVE rows —
    merge-on-read tombstones anti-joined exactly as probes do):
    (band_idx, n_buckets, n_rows, max_bucket, n_singletons).  Bucket
    skew is the probe-cost signal; a ballooning max bucket says retune
    banding or compact."""
    bands = ix.live_table(spark, ix.LSH, table_name, "bands",
                          ix.read_meta(spark, table_name))
    buckets = bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("__sz"))
    return (
        buckets.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("__sz").alias("n_rows"),
            F.max("__sz").alias("max_bucket"),
            F.sum(F.when(F.col("__sz") == 1, 1).otherwise(0))
            .alias("n_singletons"),
        )
        .select(F.col("band_idx").cast("int").alias("band_idx"),
                "n_buckets", "n_rows", "max_bucket", "n_singletons")
    )


def build_lsh_corpus_index(
    corpus: DataFrame,
    table_name: str,
    *,
    text_col: str,
    id_col: str,
    ngram_width: int = 3,
    band_count: int = 8,
    band_size: int = 2,
    seed: int = 123,
    num_buckets: int = 32,
    shingle: str = "char",
) -> None:
    """Persist a corpus's LSH index for repeated probing — the amortized
    deployment shape for streaming/incremental near-dup: shingle sets and
    band hashes are computed ONCE and written as two bucketed tables
    (``<name>_bands`` bucketed by the blocking key, ``<name>_sets``
    bucketed by id for verification re-attach), plus a ``<name>_meta``
    row pinning the parameters so probes can't drift from the index.

    Every subsequent ``lsh_similarity_join_indexed`` then shuffles only
    the (small) probe side: the band join reads matching buckets of
    ``_bands`` and the set re-attach reads matching buckets of ``_sets``
    with no corpus-side exchange.  (``seed`` is a single int here — build
    one index per rotation for the seed-rotation recall pattern.)"""
    sets = _with_sets(corpus, id_col, text_col, ngram_width,
                      "__rid", "__rset", band_count, band_size, seed,
                      shingle=shingle)
    track(sets.persist(StorageLevel.MEMORY_AND_DISK))
    ix.write(_band_blocks(sets, "__rid"), ix.LSH, table_name, "bands",
             num_buckets=num_buckets)
    ix.write(sets.select("__rid", "__rset"), ix.LSH, table_name, "sets",
             num_buckets=num_buckets)
    # the shingle mode is an index-defining parameter like the banding:
    # probes/extends read it from the meta row so a weighted index can
    # never silently be probed with char shingles; the bucket spec rides
    # along so attach_lsh_corpus_index can re-register the tables later
    ix.finish_build(corpus.sparkSession, ix.LSH, table_name,
                    text_col=text_col, id_col=id_col,
                    ngram_width=ngram_width, band_count=band_count,
                    band_size=band_size, seed=seed, shingle=shingle,
                    num_buckets=num_buckets)


def delete_from_lsh_index(ids: DataFrame, table_name: str,
                          id_col: "str | None" = None) -> None:
    """Tombstone deletion for a persisted LSH index (the merge-on-read
    contract of ``sources/index.py::delete``): deleted corpus ids append
    to ``<name>_deletes`` and every probe anti-joins them.  Physical
    removal happens at the next ``compact_lsh_index`` or full
    ``build_lsh_corpus_index``; a tombstoned id stays deleted even if
    re-appended via ``extend_lsh_corpus_index``.

    ``id_col`` defaults to the indexed corpus id column (meta row)."""
    ix.delete(ids, ix.LSH, table_name, id_col)


def _meta_shingle(m) -> str:
    """The index's pinned shingle mode; pre-round-5 meta rows lack the
    column and were always char — keep the back-compat fallback in ONE
    place so no index consumer can forget it."""
    return m.shingle if "shingle" in m.__fields__ else "char"


def compact_lsh_index(spark, table_name: str, *,
                      keep_previous: bool = False) -> None:
    """Maintenance pass after many ``extend_lsh_corpus_index`` appends
    and ``delete_from_lsh_index`` tombstones: rewrite ``_bands``/
    ``_sets`` into one file-set per bucket with every tombstoned id
    folded out, then truncate ``_deletes``.  Probe results are
    unchanged.  The probe-safe generation swap, ``keep_previous`` and
    the refusal of custom-location indexes are the shared contract of
    ``sources/index.py::compact``."""
    ix.compact(spark, ix.LSH, table_name, keep_previous=keep_previous)


def attach_lsh_corpus_index(spark, table_name: str,
                            location_root: str | None = None) -> None:
    """Re-register a ``build_lsh_corpus_index`` written by an EARLIER
    session (the in-memory catalog forgets managed tables while their
    files survive): ``_meta``, ``_bands``/``_sets`` with their bucket
    spec, and ``_deletes`` when present — see
    ``sources/index.py::attach``.

    ``location_root``: directory containing the ``<table_name>_bands`` /
    ``_sets`` / ``_meta`` directories (defaults to the session warehouse).
    No-op for tables the catalog already knows."""
    ix.attach(spark, ix.LSH, table_name, location_root)


def lsh_similarity_join_indexed(
    spark,
    table_name: str,
    probe: DataFrame,
    probe_text: str,
    *,
    probe_id: str,
    threshold: float,
    keep_similarity: bool = True,
    broadcast_probe_sets: "bool | None" = None,
) -> DataFrame:
    """Probe a persisted ``build_lsh_corpus_index`` without touching the
    raw corpus: banding parameters come from the index's meta row, the
    band join and the corpus-set re-attach read bucketed tables (no
    corpus-side exchange), and only the probe's sets/bands are computed
    fresh.  Same semantics and output shape as ``lsh_similarity_join``
    with matching parameters.

    Returns (probe_id, <corpus id_col>[, jaccard])."""
    m = ix.read_meta(spark, table_name)
    l_sets = _with_sets(probe, probe_id, probe_text, m.ngram_width,
                        "__lid", "__lset", m.band_count, m.band_size,
                        m.seed, shingle=_meta_shingle(m))
    track(l_sets.persist(StorageLevel.MEMORY_AND_DISK))
    l_blocks = _band_blocks(l_sets, "__lid")
    # both bucketed-table joins hint shuffle_hash: the bucketed scan
    # already delivers the corpus side partitioned on the join key (no
    # exchange), and hash-building on it skips sort-merge's sort of BOTH
    # streams — the probe block/pair stream is orders of magnitude larger
    # than any one corpus bucket, and sorting it was pure overhead
    # (measured at sf0.1: 1.17M candidate pairs for a 2.5k-row set table)
    pairs = (
        l_blocks.join(
            spark.table(ix.phys(ix.LSH, table_name, "bands", m))
            .hint("shuffle_hash"),
            on=["band_idx", "band_hash"], how="inner")
        .select("__lid", "__rid")
        .dropDuplicates(["__lid", "__rid"])
    )
    pairs = ix.live(spark, ix.LSH, table_name, pairs)
    sets_tbl = spark.table(ix.phys(ix.LSH, table_name, "sets", m))
    # verify under the broadcast cap exactly like the non-indexed joins
    # (the bare-id-pairs contract): ship probe + corpus sets ONCE to the
    # workers and verify (id_a, id_b) rows in the kernel — the attach
    # joins otherwise push two ~KB set payloads per candidate pair
    # through the verify fanout exchange (profiled 297 MB shuffled for a
    # 12 MB pair stream on the sf0.1 A/B gate).  Size-gated per side:
    # past the cap — the 100 TB corpus — the bucketed attach joins below
    # remain the scale path.  broadcast_probe_sets=False forces them
    # (the plan-pin contract).
    if (_integer_ids(l_sets, "__lid")
            and _should_broadcast(l_sets, "__lset", broadcast_probe_sets)
            and _should_broadcast(sets_tbl, "__rset",
                                  broadcast_probe_sets)):
        bc_l = _collect_sets_broadcast(l_sets, "__lid", "__lset")
        bc_r = _collect_sets_broadcast(sets_tbl, "__rid", "__rset")
        verified = _verify_pairs_from_broadcast(
            pairs, "__lid", "__rid", bc_l, bc_r, threshold, "__jaccard")
    else:
        cand = (
            pairs.join(
                _maybe_broadcast(l_sets, "__lset", broadcast_probe_sets),
                on="__lid")
            .join(sets_tbl.hint("shuffle_hash"), on="__rid")
            .where(
                F.least(F.size("__lset"), F.size("__rset"))
                > threshold * F.greatest(F.size("__lset"), F.size("__rset")))
        )
        verified = _verify_pairs(cand, "__lid", "__rid", "__lset",
                                 "__rset", threshold, "__jaccard")
    out_l = probe_id if probe_id != m.id_col else f"{probe_id}_left"
    out_r = m.id_col if probe_id != m.id_col else f"{m.id_col}_right"
    cols = [F.col("__lid").alias(out_l), F.col("__rid").alias(out_r)]
    if keep_similarity:
        cols.append(F.col("__jaccard").alias("jaccard"))
    return verified.select(*cols)


def extend_lsh_corpus_index(
    corpus_delta: DataFrame,
    table_name: str,
) -> None:
    """Incrementally grow a persisted ``build_lsh_corpus_index`` with new
    documents: shingle/band ONLY the delta (using the banding parameters
    pinned in the index's meta row — drift is impossible) and APPEND to
    the bucketed ``_bands``/``_sets`` tables.  Spark honors the existing
    bucket spec on append, so probes keep their exchange-free corpus side
    (pinned by tests).

    This is the daily-ingest shape at scale: the corpus-wide shuffle
    happened once at build time; each increment shuffles only the delta.

    Caller contract: delta ids must be NEW (not already indexed) — id
    dedup against the index is a full ``_sets`` scan, exactly the cost
    this operator exists to avoid; dedup the delta upstream (e.g. with
    ``lsh_dedup_keep_first``) if ids can repeat."""
    spark = corpus_delta.sparkSession
    m = ix.read_meta(spark, table_name)
    sets = _with_sets(corpus_delta, m.id_col, m.text_col, m.ngram_width,
                      "__rid", "__rset", m.band_count, m.band_size, m.seed,
                      shingle=_meta_shingle(m))
    track(sets.persist(StorageLevel.MEMORY_AND_DISK))
    ix.write(_band_blocks(sets, "__rid"), ix.LSH, table_name, "bands", m,
             mode="append")
    ix.write(sets.select("__rid", "__rset"), ix.LSH, table_name, "sets", m,
             mode="append")


def dedup_new_against_index(
    spark,
    table_name: str,
    new_docs: DataFrame,
    text_col: str,
    *,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """The incremental-crawl dedup flow: drop every NEW document that is
    a verified near-duplicate of ANYTHING in a persisted
    ``build_lsh_corpus_index`` corpus — the reference corpus is never
    re-shingled, re-banded, or re-shuffled (the
    ``lsh_similarity_join_indexed`` probe contract: new-batch bands
    probe the bucketed index tables, tombstones excluded), and the
    surviving batch keeps its full original columns via one anti-join
    on id.  At 100 TB this is how a refresh lands: probe cost scales
    with the BATCH, not the corpus."""
    matches = lsh_similarity_join_indexed(
        spark, table_name, new_docs, text_col, probe_id=id_col,
        threshold=threshold, keep_similarity=False)
    # the probe join disambiguates a probe id that collides with the
    # index's id_col as <id>_left (its output-naming contract)
    probe_out = id_col if id_col in matches.columns else f"{id_col}_left"
    return new_docs.join(
        matches.select(F.col(probe_out).alias(id_col)).distinct(),
        on=id_col, how="left_anti")


def minhash_estimate_for_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    *,
    id_col: str = "doc_id",
    id_a_col: str = "id_a",
    id_b_col: str = "id_b",
    ngram_width: int = 3,
    band_count: int = 4,
    band_size: int = 3,
    seed: int = 123,
    max_docs: int | None = 1_000_000,
    sample_salt: str = "calib-v1",
    sets: "DataFrame | None" = None,
) -> DataFrame:
    """Append the CLASSIC per-seed MinHash estimate to a verified-pair
    frame: ``est_sim = (#matching per-seed minima) / n_seeds`` — the
    estimator whose expectation is the true Jaccard, measured here
    against the exact value the pair already carries (the
    "measure the sketch" diagnostic behind the banding tuner).

    Kernel contract (the broadcast-verify discipline): the signature
    MATRIX (doc-id-sorted, n_docs × n_seeds int64, the two's-complement
    reinterpretation of the u64 minima) broadcasts once; pairs cross
    the Arrow boundary as (id_a, id_b, jaccard) rows; the kernel emits
    the RAW IEEE division (row-sum of equal positions / n_seeds) and
    rounding happens in-plan (the containment template).  Pairs whose
    id is absent from the matrix are dropped, matching join
    semantics.

    100 TB note — this is a SAMPLED diagnostic by design: the matrix
    broadcast carries n_docs · n_seeds · 8 bytes, fine to ~10⁷ docs
    and deliberately NOT built for the full production corpus.
    Estimator calibration is a statistical measurement — the
    confidence interval shrinks with sampled pairs, not corpus size —
    so ``max_docs`` ENFORCES the contract by default: when ``docs``
    exceeds it, a deterministic md5-bucket sample (the
    ``split_bucket_expr`` machinery — reproducible across runs,
    engines, and partitionings) caps the matrix before anything is
    collected.  Absent ids drop their pairs, so every surviving
    estimate is bit-identical to the full-corpus run (pytest-pinned).
    ``max_docs=None`` is the explicit full-corpus opt-in the exact
    gate oracle uses."""
    import math

    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    from ..functions.lsh import lsh_min_minima_long
    from ..plans.cache import track_broadcast

    if sets is not None and max_docs is not None:
        # the sets frame excludes NULL-text docs, so a count over it
        # would shift the sampling threshold away from the pinned
        # text-path semantics — a caller handing over cached sets owns
        # the corpus framing and must opt out of sampling explicitly
        raise ValueError(
            "minhash_estimate_for_pairs: pass max_docs=None when "
            "supplying a precomputed sets frame")
    if max_docs is not None:
        n_docs = docs.select(id_col).count()
        if n_docs > max_docs:
            from .training_ops import split_bucket_expr

            buckets = 1 << 20
            keep = int(math.ceil(max_docs / n_docs * buckets))
            docs = docs.where(
                split_bucket_expr(F.col(id_col), salt=sample_salt,
                                  buckets=buckets) < keep)

    # spread the signature pass before the (band_count·band_size)-seed
    # minima UDF: a single-file corpus arrives as ONE scan task and the
    # whole matrix otherwise computes serially inside the toPandas
    # collect (profiled 2.5 s single-task at sf0.1).  Values are
    # per-row deterministic and the kernel sorts by id below, so the
    # repartition is bit-neutral.
    from ..sources.io import fanout_scan

    if sets is not None:
        # reuse a miner's cached (__id, __set) frame: per-seed minima
        # over the unique window-hash SET are bit-equal to minima over
        # the text's window multiset (duplicates cannot change a min),
        # so the corpus is never re-shingled — and the cached frame is
        # already fanned out (pytest-pinned bit-equality vs the text
        # path, incl. NULL/empty-text rows)
        from ..functions.lsh import lsh_min_minima_long_from_set

        sigs = sets.select(
            F.col("__id"),
            lsh_min_minima_long_from_set(
                F.col("__set"), band_count, band_size, seed)
            .alias("__sig"))
    else:
        sigs = fanout_scan(
            docs.select(F.col(id_col), F.col(text_col))).select(
            F.col(id_col).alias("__id"),
            lsh_min_minima_long(F.col(text_col), ngram_width, band_count,
                                band_size, seed).alias("__sig"))
    pdf = sigs.toPandas()
    pdf = pdf[pdf["__sig"].notna()]  # NULL text → NULL sig → id dropped
    ids = pdf["__id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    mat = (np.stack(pdf["__sig"].to_numpy()[order]).astype(np.int64)
           if len(pdf) else np.empty((0, band_count * band_size),
                                     dtype=np.int64))
    bc = track_broadcast(
        docs.sparkSession.sparkContext.broadcast((ids[order], mat)))

    cols = [f.name for f in pairs.schema.fields]
    missing = [c for c in (id_a_col, id_b_col) if c not in cols]
    if missing:
        raise ValueError(
            f"pairs frame is missing id column(s) {missing}; have {cols} "
            f"— pass id_a_col/id_b_col naming the pair's id columns")
    src = _fanout_pairs(pairs)
    schema = StructType(list(pairs.schema.fields)
                        + [StructField("est_sim", DoubleType(), True)])
    ida, idb = id_a_col, id_b_col

    def gen(batches):
        sids, M = bc.value
        for b in batches:
            if not len(b):
                continue
            wa = b[ida].to_numpy(dtype=np.int64)
            wb = b[idb].to_numpy(dtype=np.int64)
            ia = np.searchsorted(sids, wa)
            ib = np.searchsorted(sids, wb)
            ia = np.minimum(ia, max(len(sids) - 1, 0))
            ib = np.minimum(ib, max(len(sids) - 1, 0))
            ok = ((sids[ia] == wa) & (sids[ib] == wb)) if len(sids) \
                else np.zeros(len(wa), dtype=bool)
            out = b.iloc[ok.nonzero()[0]].copy()
            # row-sum of equal positions / n_seeds: ONE IEEE division
            out["est_sim"] = (M[ia[ok]] == M[ib[ok]]).mean(axis=1)
            yield out

    return src.mapInPandas(gen, schema)
