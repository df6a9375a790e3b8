"""64-bit DCT perceptual hash, pure numpy (north-rule op, SURVEY.md §2.6).

Published pHash recipe: grayscale -> resize 32x32 (area mean-pool) ->
2D DCT-II -> top-left 8x8 low-frequency block -> bit i set iff coeff >
median(block). This module is the engine's *definition* of phash: the data
generator, the integrity rule (recompute-vs-stored) and the dedup operators
all share it.

Ties are decided as in exact arithmetic: a coefficient counts as "above"
the median only when it exceeds it by more than ``_TIE_RTOL * max|block|``.
The synthetic images hit exact ties (for w == h the DCT block is symmetric,
c[k,l] == c[l,k] for k,l >= 1, so a mirrored pair can straddle the median),
and in float64 the last-ulp rounding of the BLAS matmul would decide such a
tie — rounding that differs per CPU kernel, so the hash would too.

Everything is batched: ``phash64_stack`` hashes a stack of N same-sized
images with two broadcast matrix multiplies — no per-pixel Python.
"""

from __future__ import annotations

import numpy as np

_DCT_CACHE: dict[int, np.ndarray] = {}


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (type-II, norm='ortho')."""
    m = _DCT_CACHE.get(n)
    if m is None:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
        m[0] *= np.sqrt(0.5)
        _DCT_CACHE[n] = m
    return m


_LUMA = np.array([0.299, 0.587, 0.114])

# Tie tolerance, relative to max|block|. Each coefficient is two 32-term dot
# products with |D| <= 0.25 and gray >= 0, so its float64 error is at most
# 128u * DC ~ 2.8e-14 * max|block|: 1e-12 clears the rounding of
# coeff - median by > 17x yet sits ~2400x below the smallest genuine gap to
# the median on the datagen corpus (2.4e-9 * max|block|).
_TIE_RTOL = 1e-12


def _bits_above_median(block: np.ndarray) -> np.ndarray:
    """(..., 64) DCT blocks -> bool bits: coeff > median(block), with
    float ties (within ``_TIE_RTOL * max|block|``) decided as not above."""
    med = np.median(block, axis=-1, keepdims=True)
    tol = _TIE_RTOL * np.abs(block).max(axis=-1, keepdims=True)
    return block > med + tol


def gray_pool_stack(stack: np.ndarray, gh: int, gw: int) -> np.ndarray:
    """(N, h, w, 3) uint8 -> (N, gh, gw) float64 grayscale via BT.601 luma:
    exact block mean when h % gh == 0 and w % gw == 0, else nearest-index
    resample. The ONE grayscale/pool rule every image hash (pHash, dHash,
    aHash) sees — shared so the cross-hash "identical grayscale semantics"
    contract cannot drift between hand-copied implementations."""
    n, h, w, _ = stack.shape
    gray = stack @ _LUMA
    if h % gh or w % gw:
        yi = (np.arange(gh) * h // gh).clip(0, h - 1)
        xi = (np.arange(gw) * w // gw).clip(0, w - 1)
        return gray[:, yi][:, :, xi]
    return gray.reshape(n, gh, h // gh, gw, w // gw).mean(axis=(2, 4))


def _to_gray_32(pixels: np.ndarray) -> np.ndarray:
    """uint8 HxWx3 -> float64 32x32 grayscale (scalar wrapper)."""
    return gray_pool_stack(pixels[None], 32, 32)[0]


def phash64(pixels: np.ndarray) -> int:
    """Perceptual hash of one uint8 HxWx3 image -> signed 64-bit int
    (LongType-safe: bit 63 is the sign bit). Bit i is set iff coeff i is
    above the block median by more than float rounding: exact ties (the
    symmetric pairs of a square datagen image) never set a bit, whatever
    the CPU's BLAS kernel rounds them to."""
    g = _to_gray_32(pixels)
    d = _dct_matrix(32)
    coeffs = d @ g @ d.T
    bits = _bits_above_median(coeffs[:8, :8].ravel())
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    # two's-complement into int64 range
    return v - (1 << 64) if v >= (1 << 63) else v


def _gray32_stack(stack: np.ndarray) -> np.ndarray:
    """(N, h, w, 3) uint8 -> (N, 32, 32) float64 grayscale (32x32 form of
    :func:`gray_pool_stack`)."""
    return gray_pool_stack(stack, 32, 32)


def phash64_stack(stack: np.ndarray) -> np.ndarray:
    """Vectorized :func:`phash64` over a (N, h, w, 3) uint8 stack of
    same-sized images -> int64 array. Bit-identical to the scalar path
    (same gray/DCT/median pipeline and the same tie rule, batched matmuls).
    The tie rule is what keeps the hash off the matmul's last-ulp rounding,
    which differs between BLAS kernels and so between CPUs."""
    g = _gray32_stack(stack)
    d = _dct_matrix(32)
    coeffs = np.matmul(np.matmul(d, g), d.T)  # (N,32,32), broadcast matmul
    block = coeffs[:, :8, :8].reshape(len(g), 64)
    bits = _bits_above_median(block).astype(np.uint8)
    # pack 64 bits (MSB-first, same order as the scalar shift loop)
    packed = np.packbits(bits, axis=1)  # (N, 8) big-endian bytes
    u = packed.astype(np.uint64) << (np.uint64(8) * np.arange(7, -1, -1, dtype=np.uint64))
    return u.sum(axis=1).view(np.int64) if len(g) else np.zeros(0, np.int64)


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized Hamming distance between int64 hash arrays."""
    x = (a.astype(np.uint64) ^ b.astype(np.uint64)).view(np.uint64)
    # popcount via unpackbits on the byte view
    return np.unpackbits(x.view(np.uint8).reshape(len(x), 8), axis=1).sum(axis=1)


def phash64_dihedral_min(pixels: np.ndarray) -> int:
    """Rotation/mirror-invariant perceptual key: MIN of :func:`phash64`
    over the 8 dihedral transforms (4 quarter-turns x optional mirror).
    Every member of an image's dihedral orbit enumerates the SAME 8
    transform results (the orbit is a group coset), so 90/180/270-rotated
    and mirrored re-uploads collapse to one identical key with no
    multi-probe join downstream — plain phash deliberately does NOT (a
    rotation scrambles the DCT block). Cost: 8 DCTs per image; signed
    int64 min is the total order (LongType-stable)."""
    vals = []
    cur = pixels
    for _ in range(4):
        vals.append(phash64(cur))
        vals.append(phash64(cur[:, ::-1]))
        cur = np.rot90(cur)
    return min(vals)
