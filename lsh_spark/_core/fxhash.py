"""Bit-exact reimplementation of ``rustc-hash 1.1.0`` (FxHasher), 64-bit.

The reference (princeton-ddss/lsh) uses FxHasher for every hash it computes:
shingle hashing (``src/minhash/shingleset.rs:37-47``), per-seed minhash and
band folding (``src/minhash/minhasher.rs:22-45``), and the Euclidean bucket
hash (``src/euclidean_hash/euclidean_hasher.rs:28-38``).

FxHasher semantics (rustc-hash 1.1.0, 64-bit targets):

    state: u64, initially 0
    add_to_hash(word): state = rotl64(state, 5) ^ word; state = state * K (wrapping)
    K = 0x51_7c_c1_b7_27_22_0a_95
    write_u32(v)  -> add_to_hash(v as u64)   (zero-extended)
    write_u64(v)  -> add_to_hash(v)
    write_usize(v)-> add_to_hash(v)          (usize == u64 on all CI targets)
    finish()      -> state

Rust ``Hash`` derive behavior needed by the reference:
  * ``&[char]``: length prefix via write_usize(len), then write_u32(ch) per char
    (Rust ``char`` hashes as its u32 scalar value).
  * ``u64``/``u32``: single write_u64/write_u32.
  * ndarray ``Array1<u64>``: shape ``&[usize]`` hashed as a slice
    (write_usize(1), write_usize(len)), then write_u64 per element
    (ndarray 0.16.1 ``impl Hash for ArrayBase``: shape then hash_slice).

Both scalar (python-int) and vectorized (numpy uint64) forms are provided;
the numpy forms are the hot path inside pandas UDF batches.
"""

from __future__ import annotations

import numpy as np

K = 0x517CC1B727220A95
MASK64 = 0xFFFFFFFFFFFFFFFF

_K_U64 = np.uint64(K)
_U5 = np.uint64(5)
_U59 = np.uint64(59)


def fx_add(state: int, word: int) -> int:
    """One FxHasher word step on python ints (scalar reference path)."""
    state = ((state << 5) | (state >> 59)) & MASK64
    state ^= word
    return (state * K) & MASK64


def fx_hash_char_slice(chars: str) -> int:
    """Hash of a Rust ``&[char]`` slice: usize length prefix, then each
    Unicode scalar value as u32.  Returns the full u64."""
    state = fx_add(0, len(chars))
    for ch in chars:
        state = fx_add(state, ord(ch))
    return state


# ---------------------------------------------------------------------------
# numpy-vectorized forms (wrapping u64 arithmetic)
# ---------------------------------------------------------------------------

def fx_add_np(state: np.ndarray, word) -> np.ndarray:
    """Vectorized FxHasher step: ``state`` uint64 array, ``word`` uint64
    array or scalar (already zero-extended)."""
    state = (state << _U5) | (state >> _U59)
    state = state ^ word
    return state * _K_U64
