"""Vectorized 64-bit hashing primitives (numpy, overflow-wrapping).

Used for deterministic per-row synthetic data (datagen). splitmix64
is the public-domain mixer from Steele et al., "Fast Splittable
Pseudorandom Number Generators" (OOPSLA 2014).
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_MASK = _U64(0xFFFFFFFFFFFFFFFF)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer; uint64 in → uint64 out."""
    with np.errstate(over="ignore"):
        z = (np.asarray(x, dtype=_U64) + _U64(0x9E3779B97F4A7C15)) & _MASK
        z = ((z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)) & _MASK
        z = ((z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)) & _MASK
        return z ^ (z >> _U64(31))


def hash2(a: np.ndarray, b: np.ndarray | int) -> np.ndarray:
    """Combine two uint64 streams."""
    with np.errstate(over="ignore"):
        return splitmix64(
            np.asarray(a, dtype=_U64) ^ ((np.asarray(b, dtype=_U64) * _U64(0xC2B2AE3D27D4EB4F)) & _MASK)
        )


def u01(x: np.ndarray) -> np.ndarray:
    """uint64 hash → uniform float64 in [0, 1)."""
    return (np.asarray(x, dtype=_U64) >> _U64(11)).astype(np.float64) / float(1 << 53)

