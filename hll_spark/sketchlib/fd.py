"""Frequent Directions — a mergeable matrix sketch.

Liberty, "Simple and Deterministic Matrix Sketching" (KDD 2013) and
Ghashami-Liberty-Phillips-Woodruff (SIAM J. Comput. 2016). The sketch
maintains ``ell`` orthogonal-ish rows B of width ``dim`` such that

    0  <=  x^T (A^T A - B^T B) x  <=  2 * ||A||_F^2 / ell      (any unit x)

i.e. the sketch's Gram matrix underestimates the true Gram matrix by at
most ``2*||A||_F^2/ell`` in spectral norm (GLPW refine: at most
``||A - A_k||_F^2 / (ell/2 - k)`` for any rank k < ell/2). It is the
matrix analogue of the stream sketches in this package: deterministic,
mergeable (merge = stack + shrink, bound-preserving like KLL/t-digest,
not byte-associative like HLL), and O(ell * dim) memory regardless of
how many rows it absorbs — which is what lets 10^12 embedding rows
reduce to one ~MB blob per partition for covariance/PCA-style work
(SemDeDup whitening, spectral quality probes) without ever shuffling
the rows themselves.

EXACT REGIME (the oracle hook, same pattern as KLL/MG exact tiers):
while the total absorbed rows fit the 2*ell buffer the shrink step
never fires, B is literally the stacked input rows, and B^T B equals
A^T A with no floating error when the inputs are integers small enough
that every dot product stays under 2^53 (float64 integer arithmetic is
exact and order-independent there).

Not in the reference repo (l0vest0rm/hll has no matrix layer); the
companion-sketch mandate and the two-level build shape come from
SURVEY.md §2.3/§3.4.
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = b"FD1"


class FDSketch:
    """Frequent Directions over rows of width ``dim`` with ``ell``
    retained directions (buffer holds ``2*ell`` rows; shrink keeps the
    top ``ell`` when full). ``dim=None`` leaves the sketch unsized until
    its first block or merge — the zero state of a distributed build,
    where the width is only known from the data."""

    __slots__ = ("ell", "dim", "buf", "filled", "rows_seen", "shrunk")

    def __init__(self, ell: int, dim: int | None):
        if ell < 1:
            raise ValueError("ell must be >= 1")
        if dim is not None and dim < 1:
            raise ValueError("dim must be >= 1")
        self.ell = int(ell)
        self._size(dim or 0)
        self.filled = 0  # rows of buf currently occupied
        self.rows_seen = 0
        self.shrunk = False  # True once any shrink fired (exact bit)

    def _size(self, dim: int) -> None:
        self.dim = int(dim)
        # capacity grows geometrically toward the logical 2*ell cap, so
        # a barely-filled sketch (the exact-regime / many-groups case)
        # never pays the full 2*ell x dim allocation up front
        self.buf = np.zeros(
            (min(2 * self.ell, 64) if dim else 0, self.dim), dtype=np.float64
        )

    def _reserve(self, want: int) -> int:
        """Grow capacity toward min(2*ell, want); return capacity."""
        cap_max = 2 * self.ell
        cur = self.buf.shape[0]
        if cur < cap_max and want > cur:
            new = min(cap_max, max(want, 2 * cur))
            grown = np.zeros((new, self.dim), dtype=np.float64)
            grown[: self.filled] = self.buf[: self.filled]
            self.buf = grown
            cur = new
        return cur

    # -- updates ---------------------------------------------------------

    def update(self, rows: np.ndarray) -> "FDSketch":
        """Absorb a (n, dim) float block. The shrink fires only when a
        row arrives and the 2*ell buffer is already full — absorbing
        exactly 2*ell rows total stays exact."""
        rows = np.asarray(rows, dtype=np.float64)
        if rows.ndim == 1:
            rows = rows[None, :]
        if not self.dim:
            self._size(rows.shape[1])
        if rows.shape[1] != self.dim:
            raise ValueError(
                f"row width {rows.shape[1]} != sketch dim {self.dim}"
            )
        n = rows.shape[0]
        self.rows_seen += n
        pos = 0
        while pos < n:
            cap = self._reserve(self.filled + (n - pos))
            if self.filled == cap:
                self._shrink()
                continue
            take = min(cap - self.filled, n - pos)
            self.buf[self.filled : self.filled + take] = rows[
                pos : pos + take
            ]
            self.filled += take
            pos += take
        return self

    def _shrink(self) -> None:
        """SVD the buffer, subtract sigma_ell^2, keep the top ell rows."""
        # full_matrices=False: Vt is (filled, dim)-bounded
        _, s, vt = np.linalg.svd(
            self.buf[: self.filled], full_matrices=False
        )
        k = self.ell
        if s.shape[0] <= k:
            # fewer nonzero directions than ell: nothing to subtract,
            # but the rows were still rotated through an SVD (float
            # rounding), so the exact bit must drop here too
            self.buf[: s.shape[0]] = s[:, None] * vt
            self.filled = s.shape[0]
            self.shrunk = True
            return
        # standard FD uses sigma_ell^2 of the TOP ell as the shrink;
        # with a 2*ell buffer this is s[k-1]^2 over the kept block
        # (s.shape[0] > k holds here — the branch above returned
        # otherwise)
        delta = s[k - 1] ** 2
        s2 = np.maximum(s[:k] ** 2 - delta, 0.0)
        self.buf[:k] = np.sqrt(s2)[:, None] * vt[:k]
        self.buf[k:] = 0.0
        self.filled = k
        self.shrunk = True

    # -- queries ---------------------------------------------------------

    def gram(self) -> np.ndarray:
        """B^T B — the sketched Gram matrix (dim, dim) float64."""
        b = self.buf[: self.filled]
        return b.T @ b

    def top_eigvecs(self, k: int) -> np.ndarray:
        """Top-k eigenvectors of the sketched Gram matrix, (dim, k),
        eigenvalue-descending — the PCA basis a whitening / SemDeDup
        pre-projection wants, from the sketch alone."""
        if not 1 <= k <= self.dim:
            raise ValueError("k must be in [1, dim]")
        w, v = np.linalg.eigh(self.gram())
        order = np.argsort(w)[::-1][:k]
        return v[:, order]

    def directions(self) -> np.ndarray:
        """The retained rows (filled, dim) — singular-value-scaled
        right singular vectors once any shrink has fired."""
        return self.buf[: self.filled].copy()

    @property
    def exact(self) -> bool:
        """True while gram() is exactly A^T A (no shrink ever fired)."""
        return not self.shrunk

    # -- merge -----------------------------------------------------------

    def merge(self, other: "FDSketch") -> "FDSketch":
        """Stack the other sketch's rows into this one (FD merge is
        exactly 'treat the other sketch's rows as input'); the bound
        composes because each side's B^T B already underestimates its
        own A^T A by at most its deficit."""
        if not other.dim:  # unsized: it has absorbed nothing
            return self
        if not self.dim:
            self._size(other.dim)
        if (self.ell, self.dim) != (other.ell, other.dim):
            raise ValueError("cannot merge FD sketches with different params")
        seen = self.rows_seen + other.rows_seen
        was_shrunk = self.shrunk or other.shrunk
        self.update(other.buf[: other.filled])
        self.rows_seen = seen
        self.shrunk = self.shrunk or was_shrunk
        return self

    # -- serialization ---------------------------------------------------

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack(
            ">IIQQB",
            self.ell,
            self.dim,
            self.filled,
            self.rows_seen,
            1 if self.shrunk else 0,
        )
        return head + self.buf[: self.filled].tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "FDSketch":
        if data[:3] != _MAGIC:
            raise ValueError("not an FD sketch blob")
        ell, dim, filled, rows_seen, shrunk = struct.unpack(
            ">IIQQB", data[3 : 3 + 25]
        )
        sk = cls(ell, dim or None)
        body = np.frombuffer(data[3 + 25 :], dtype=np.float64)
        if body.shape[0] != filled * dim:
            raise ValueError("FD blob length mismatch")
        sk._reserve(filled)
        sk.buf[:filled] = body.reshape(filled, dim)
        sk.filled = filled
        sk.rows_seen = rows_seen
        sk.shrunk = bool(shrunk)
        return sk
