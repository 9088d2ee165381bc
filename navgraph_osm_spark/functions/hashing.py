"""Hashing kernels for dedup: shingles, MinHash signatures, SimHash.

The reference's only hashing is MurmurHash64A for partition routing
(reference include/utils/hashing.hpp:32-46) — Spark's ``hash()``/
``repartition(n, col)`` covers that natively.  These kernels are graft
additions for near-duplicate detection over the ``documents`` table.

MinHash/SimHash run as vectorized numpy inside Arrow-batched pandas UDFs
(never per-row Python).  All randomness is seeded/deterministic.

Design note: shingle hashes are truncated to 31 bits and the universal-hash
multipliers ``a`` to 31 bits, so ``a*x + b`` fits exactly in uint64 and
``(a*x + b) mod (2^61-1)`` is computed without overflow tricks.  The 31-bit
shingle space is ample for per-document shingle sets (≲10^4 shingles →
collision probability < 1e-4 per doc).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

MERSENNE_PRIME = (1 << 61) - 1
_HASH_BITS = 31


def _hash_params(num_hashes: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << _HASH_BITS, size=num_hashes, dtype=np.uint64)
    b = rng.integers(0, MERSENNE_PRIME, size=num_hashes, dtype=np.uint64)
    return a, b


def char_shingles(text: str, n: int = 3) -> set[str]:
    """Distinct character n-grams of whitespace-normalized text."""
    t = " ".join((text or "").split())
    if len(t) < n:
        return {t} if t else set()
    return {t[i : i + n] for i in range(len(t) - n + 1)}


def shingle_hashes(text: str, n: int = 3) -> np.ndarray:
    """Stable 31-bit integer hash per distinct shingle (md5-derived)."""
    sh = char_shingles(text, n)
    if not sh:
        return np.array([0], dtype=np.uint64)
    return np.array(
        [int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "big") >> 1 for s in sh],
        dtype=np.uint64,
    )


def minhash_signatures_batch(
    texts: pd.Series, num_hashes: int = 128, n: int = 3, seed: int = 42
) -> list[list[int]]:
    """MinHash signature per text: min over shingles of (a_i*x + b_i) mod p."""
    a, b = _hash_params(num_hashes, seed)
    p = np.uint64(MERSENNE_PRIME)
    out: list[list[int]] = []
    for t in texts:
        x = shingle_hashes(t, n)[:, None]          # (s, 1) < 2^31
        vals = (a[None, :] * x + b[None, :]) % p   # exact: < 2^62 + 2^61 < 2^64
        out.append(vals.min(axis=0).astype(np.int64).tolist())
    return out


def jaccard_exact(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)


def simhash64(texts: pd.Series, n: int = 3) -> np.ndarray:
    """64-bit SimHash over char n-grams (md5 hashes, unweighted bit votes)."""
    out = np.zeros(len(texts), dtype=np.int64)
    bit_idx = np.arange(64, dtype=np.uint64)
    for i, t in enumerate(texts):
        sh = char_shingles(t or "", n)
        if not sh:
            continue
        hs = np.array(
            [int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") for s in sh],
            dtype=np.uint64,
        )
        bits = (hs[:, None] >> bit_idx[None, :]) & np.uint64(1)  # (s, 64)
        votes = (bits.sum(axis=0) * 2 > len(sh)).astype(np.uint8)
        val = np.uint64(0)
        for k in range(64):
            if votes[k]:
                val |= np.uint64(1) << np.uint64(k)
        out[i] = np.int64(val.astype(np.int64))
    return out
