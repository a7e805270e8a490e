"""Golden-vector tests for the bit-exact core, transcribed from the
reference's sqllogictests (``/root/reference/test/sql/lsh/*.test``).

These are the acceptance vectors for the FxHasher / ChaCha12 / rand-dist
port (SURVEY.md §5) — every literal below comes from a ``query I`` golden
block in the reference test suite.
"""

from __future__ import annotations

import numpy as np
import pytest

from lsh_spark._core.euclidean import euclidean_bands, euclidean_bands_batch
from lsh_spark._core.minhash import minhash_bands, minhash_bands_scalar
from lsh_spark._core.shingles import (
    jaccard,
    shingle_set_from_shingles,
    shingle_set_from_text,
)

# --- lsh_min / lsh_min32 (text), test/sql/lsh/lsh_min.test:17-54 -----------

MIN_TEXT_GOLDEN = {
    "Princeton University": [
        6891191098855684803, 6484452798683863108, 14488917645112899542],
    "Alice Johnson": [
        13571929851950895096, 9380027513982184887, 2973452616913389687],
    "Robert Smith": [
        8779492002049334510, 6213046290947405081, 13321761559668221936],
    "Charlotte Brown": [
        17147317566672094549, 9868884775472345505, 9544039307031965287],
    "David Martinez": [
        8205471107123956470, 3856457550471365223, 160978381860159594],
    "Emily Davis": [
        5031590273592478399, 2643794611755346220, 10496886524478706543],
    "Michael Wilson": [
        7351019434982270461, 11969544284460938578, 1096653296545732983],
    "Sophia Taylor": [
        947309311728102588, 6485027977500841069, 11465726828575944543],
    "James Anderson": [
        6511242524203601686, 5368660891928216176, 4531328875985401258],
    "Olivia Thomas": [
        6134578107120707744, 8471287122008225606, 13561556383590060017],
    "Benjamin Lee": [
        7926739398273580158, 2501438919389423193, 17085734390799214704],
}


@pytest.mark.parametrize("text,want", sorted(MIN_TEXT_GOLDEN.items()))
def test_lsh_min_text_golden(text, want):
    s = shingle_set_from_text(text, 2)
    assert minhash_bands(s, 3, 2, 123).tolist() == want
    assert minhash_bands_scalar(s, 3, 2, 123) == want


@pytest.mark.parametrize("text,want", sorted(MIN_TEXT_GOLDEN.items()))
def test_lsh_min32_is_low_32_bits(text, want):
    # lsh_min32 == lsh_min & 0xFFFFFFFF (src/lib.rs:23-27), checked against
    # the lsh_min32.test goldens via the proven invariant
    s = shingle_set_from_text(text, 2)
    got32 = [v & 0xFFFFFFFF for v in minhash_bands(s, 3, 2, 123).tolist()]
    assert got32 == [v & 0xFFFFFFFF for v in want]


def test_lsh_min32_text_golden_direct():
    # test/sql/lsh/lsh_min32.test:19-21
    s = shingle_set_from_text("Princeton University", 2)
    got32 = [v & 0xFFFFFFFF for v in minhash_bands(s, 3, 2, 123).tolist()]
    assert got32 == [379615939, 3696678980, 685242326]


# --- lsh_min (shingle-list overload), lsh_min.test:56-75 -------------------

def test_lsh_min_shingles_golden():
    s = shingle_set_from_shingles(
        ["Today is", "is such", "such a", "a beautiful", "beautiful day"])
    assert minhash_bands(s, 3, 2, 123).tolist() == [
        9974840119851185478, 4711155484753061995, 16211519798383806619]
    s2 = shingle_set_from_shingles(
        ["Jane was", "was happy", "happy to", "to hear", "hear the", "the news"])
    assert minhash_bands(s2, 3, 2, 123).tolist() == [
        2354814969659523670, 7221458756809834639, 17094615994155466934]


def test_lsh_min32_shingles_golden():
    # test/sql/lsh/lsh_min32.test:58-75
    s = shingle_set_from_shingles(
        ["Today is", "is such", "such a", "a beautiful", "beautiful day"])
    got32 = [v & 0xFFFFFFFF for v in minhash_bands(s, 3, 2, 123).tolist()]
    assert got32 == [1930130758, 3730237547, 1138821275]


# --- lsh_jaccard, test/sql/lsh/lsh_jaccard.test ----------------------------

JACCARD_GOLDEN = [
    ("Princeton University", "Harvard University", 0.4),
    ("Charlotte Brown", "Charlene Browning", 0.5),
    ("David Martinez", "Davis Martin", 0.6),
    ("Olivia Thomas", "Olive Thomason", 0.5625),
    ("Emily Davis", "Laura Bennett", 0.0),
    ("Michael Wilson", "Mike Wilson", 0.4375),
    ("James Anderson", "Jamie Anders", 0.5),
    ("Benjamin Lee", "Christopher Grant", 0.0),
]


@pytest.mark.parametrize("a,b,want", JACCARD_GOLDEN)
def test_lsh_jaccard_golden(a, b, want):
    got = jaccard(shingle_set_from_text(a, 2), shingle_set_from_text(b, 2))
    assert got == want
    # symmetry
    assert jaccard(shingle_set_from_text(b, 2), shingle_set_from_text(a, 2)) == want


def test_jaccard_empty_is_zero():
    # shingleset.rs:50-57: either side empty → 0.0 (also: text shorter than
    # ngram_width produces the empty set)
    empty = shingle_set_from_text("a", 2)
    assert empty.shape[0] == 0
    assert jaccard(empty, shingle_set_from_text("hello", 2)) == 0.0
    assert jaccard(shingle_set_from_text("hello", 2), empty) == 0.0
    assert jaccard(empty, empty) == 0.0


# --- lsh_euclidean / lsh_euclidean32, test/sql/lsh/lsh_euclidean*.test -----

EUCLIDEAN_GOLDEN = [
    ([1.1, 2.2, 3.3, 5.8, 3.9], [4153593470791884295, 13333357882440433242]),
    ([4.5, 5.5, 2.3, 1.8, 6.3], [9539244981710099531, 8978554412800410753]),
    ([7.3, 1.2, 9.6, 5.5, 7.8], [3765229951789618540, 13117769235920535871]),
    ([6.7, 4.5, 1.3, 0.6, 4.6], [13333357882440433242, 2643848813970240984]),
]


@pytest.mark.parametrize("x,want", EUCLIDEAN_GOLDEN)
def test_lsh_euclidean_golden(x, want):
    got = euclidean_bands(np.asarray(x), 0.5, 2, 3, 123)
    assert got.tolist() == want


def test_lsh_euclidean32_golden():
    # test/sql/lsh/lsh_euclidean32.test:19-21 — low 32 bits invariant
    got = euclidean_bands(np.asarray([1.1, 2.2, 3.3, 5.8, 3.9]), 0.5, 2, 3, 123)
    assert [v & 0xFFFFFFFF for v in got.tolist()] == [1206820359, 3590602330]


def test_euclidean_batch_matches_scalar():
    xs = np.asarray([x for x, _ in EUCLIDEAN_GOLDEN])
    batch = euclidean_bands_batch(xs, 0.5, 2, 3, 123)
    for i, (_, want) in enumerate(EUCLIDEAN_GOLDEN):
        assert batch[i].tolist() == want


# --- property tests the reference lacks (SURVEY.md §5 step 4) --------------

def test_minhash_batch_matches_scalar_random():
    rng = np.random.default_rng(7)
    for _ in range(20):
        n = int(rng.integers(0, 40))
        shingles = np.unique(rng.integers(0, 2**32, size=n).astype(np.uint64))
        bc, bs = int(rng.integers(1, 6)), int(rng.integers(1, 5))
        seed = int(rng.integers(0, 2**63))
        assert (
            minhash_bands(shingles, bc, bs, seed).tolist()
            == minhash_bands_scalar(shingles, bc, bs, seed)
        )


def test_empty_shingle_set_minhash():
    # empty set → every per-seed min stays u64::MAX; band hash is the fold
    # of band_size copies of u64::MAX — deterministic, non-null
    empty = np.empty(0, dtype=np.uint64)
    got = minhash_bands(empty, 3, 2, 123)
    assert got.shape == (3,)
    scalar = minhash_bands_scalar(empty, 3, 2, 123)
    assert got.tolist() == scalar


def _unblocked_minima(hashes, offs, bc, bs, seed):
    """The per-seed minima kernel before cache blocking: one full-array
    xor/multiply pass per seed, reduced over every non-empty segment."""
    from lsh_spark._core.minhash import _seed_prefix_states

    prefix = _seed_prefix_states(bc, bs, seed)
    rot = (prefix << np.uint64(5)) | (prefix >> np.uint64(59))
    out = np.full((offs.shape[0] - 1, bc * bs), np.uint64(2**64 - 1))
    ne = offs[1:] > offs[:-1]
    if hashes.shape[0]:
        for s in range(bc * bs):
            out[ne, s] = np.minimum.reduceat(
                (hashes ^ rot[s]) * np.uint64(0x517CC1B727220A95),
                offs[:-1][ne])
    return out


def _check_blocked_minima(lens, rng, bc, bs, seed, scalar=True):
    from lsh_spark._core.batch import (
        minhash_from_window_hashes,
        seed_minima_from_window_hashes,
    )

    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    hashes = rng.integers(0, 2**32, size=int(offs[-1])).astype(np.uint64)
    got = seed_minima_from_window_hashes(hashes, offs, bc, bs, seed)
    assert np.array_equal(got, _unblocked_minima(hashes, offs, bc, bs, seed))
    if scalar:
        bands = minhash_from_window_hashes(hashes, offs, bc, bs, seed)
        for d in range(len(lens)):
            assert bands[d].tolist() == minhash_bands_scalar(
                hashes[offs[d]:offs[d + 1]], bc, bs, seed)


def test_blocked_minima_match_scalar_and_unblocked(monkeypatch):
    """Cache-blocked per-seed minima are bit-identical to the unblocked
    kernel and to the pure-Python bands on random segment layouts,
    all-empty batches, a doc longer than a chunk and docs straddling
    chunk boundaries (a 16-element chunk makes every layout cross
    several)."""
    from lsh_spark._core import batch

    rng = np.random.default_rng(11)
    monkeypatch.setattr(batch, "_MINIMA_CHUNK", 16)
    for _ in range(30):
        n = int(rng.integers(0, 12))
        lens = rng.integers(0, 40, size=n) * (rng.random(n) < 0.8)
        _check_blocked_minima(lens, rng, int(rng.integers(1, 5)),
                              int(rng.integers(1, 4)),
                              int(rng.integers(0, 2**63)))
    _check_blocked_minima(np.zeros(5, dtype=np.int64), rng, 3, 2, 123)
    _check_blocked_minima(np.array([], dtype=np.int64), rng, 3, 2, 123)
    # one doc far past a chunk, between docs that straddle its edges
    _check_blocked_minima(np.array([10, 15, 0, 200, 7, 9, 16, 17]), rng,
                          4, 3, 99)
    # the shipped chunk size, with one doc longer than a chunk
    monkeypatch.undo()
    big = batch._MINIMA_CHUNK + 1000
    _check_blocked_minima(np.array([3000, big, 0, 5000]), rng, 2, 2, 7,
                          scalar=False)


def test_jaccard_range_random():
    rng = np.random.default_rng(3)
    texts = ["".join(chr(97 + int(c)) for c in rng.integers(0, 26, size=12))
             for _ in range(10)]
    for a in texts:
        for b in texts:
            v = jaccard(shingle_set_from_text(a, 2), shingle_set_from_text(b, 2))
            assert 0.0 <= v <= 1.0
            if a == b:
                assert v == 1.0
